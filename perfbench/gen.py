"""Seeded generator for the benchmark's tokenized-sequence tables.

Every table has the north-star shape ``doc_id:string, tokens:array<int32>,
n_tok:int32, source:string, meta:string`` and comes with a manifest of what
was planted in it: violations at known rows (counted per kind, and per
micro-batch file for the streaming validator, whose uniqueness check is
batch-scoped) and near-duplicate sequence pairs for MinHash.

The same ``(scale, seed)`` always yields byte-identical inputs. Outputs are
cached under the cache root by scale and seed; ``manifest.json`` is written
last and marks a complete entry.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BOS, EOS, PAD = 1, 2, 0
#: valid token ids are [0, VOCAB - 1]; generated ids avoid the specials
VOCAB = 32000
MAX_ID = VOCAB - 1
MIN_N_TOK, MAX_N_TOK = 1, 1024
DOC_ID_PATTERN = "^doc-[0-9]{9}$"
SOURCES = [f"src-{i:02d}" for i in range(12)]
LANGS = ["en", "de", "fr", "es", "ja"]

#: violation kinds planted in validated tables (one kind per planted row)
CLI_KINDS = (
    "dup_doc_id",
    "bad_pattern",
    "n_tok_range",
    "unknown_source",
    "missing_bos",
    "missing_eos",
    "oov",
)
STREAM_KINDS = CLI_KINDS + ("meta_not_object", "meta_missing_lang", "meta_bad_lang")

SCALES = {
    "full": {
        "cli_rows": 12_000,
        "cli_mean_tok": 180,
        "cli_plant_frac": 0.005,
        "stream_batches": 3,
        "stream_rows": 1_500,
        "stream_plant_frac": 0.2,
        "corpus_rows": 18_000,
        "corpus_mean_tok": 32,
        "corpus_subset_rows": 3_000,
        "corpus_near_dups": 40,
    },
    # self-check size: every code path in seconds per workload
    "tiny": {
        "cli_rows": 3_000,
        "cli_mean_tok": 40,
        "cli_plant_frac": 0.02,
        "stream_batches": 3,
        "stream_rows": 300,
        "stream_plant_frac": 0.2,
        "corpus_rows": 17_000,
        "corpus_mean_tok": 24,
        "corpus_subset_rows": 2_000,
        "corpus_near_dups": 10,
    },
}

SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("tokens", pa.list_(pa.int32())),
        ("n_tok", pa.int32()),
        ("source", pa.string()),
        ("meta", pa.string()),
    ]
)

#: cached seed directories kept per (scale, workload); older ones are evicted
KEEP_SEEDS = 3


def _lengths(rng: np.random.Generator, n: int, mean: int) -> np.ndarray:
    sigma = 0.5
    mu = np.log(mean) - sigma * sigma / 2
    raw = rng.lognormal(mu, sigma, n)
    return np.clip(np.rint(raw), 8, MAX_N_TOK).astype(np.int32)


def _token_rows(rng, lengths):
    """Clean sequences: BOS, random in-vocab ids (never a special), EOS."""
    offsets = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    values = rng.integers(3, VOCAB, int(offsets[-1]), dtype=np.int32)
    values[offsets[:-1]] = BOS
    values[offsets[1:] - 1] = EOS
    return offsets, values


def _meta(rng, n):
    langs = rng.integers(0, len(LANGS), n)
    qs = rng.integers(0, 1000, n)
    return [
        f'{{"lang": "{LANGS[a]}", "q": {b / 1000:.3f}}}' for a, b in zip(langs, qs)
    ]


def _plan(rng, n, kinds, frac):
    """Disjoint planted rows per kind. A duplicate needs two clean rows: the
    copy (listed under the kind) and the original whose id it takes."""
    per_kind = max(1, int(round(n * frac / len(kinds))))
    need = per_kind * (len(kinds) + 1)
    if need > n:
        raise ValueError(f"cannot plant {need} rows into {n}")
    rows = rng.permutation(n)[:need]
    plan = {k: rows[i * per_kind : (i + 1) * per_kind] for i, k in enumerate(kinds)}
    plan["_dup_of"] = rows[len(kinds) * per_kind :]
    return plan


def _table(doc_ids, offsets, values, sources, meta, n_tok=None):
    if n_tok is None:
        n_tok = (offsets[1:] - offsets[:-1]).astype(np.int32)
    tokens = pa.ListArray.from_arrays(
        pa.array(offsets.astype(np.int32)), pa.array(values, pa.int32())
    )
    return pa.table(
        [
            pa.array(doc_ids, pa.string()),
            tokens,
            pa.array(n_tok, pa.int32()),
            pa.array(sources, pa.string()),
            pa.array(meta, pa.string()),
        ],
        schema=SCHEMA,
    )


def planted_table(rng, n, mean_tok, kinds, frac, id_base=0):
    """One validated table with planted violations -> (table, counts)."""
    lengths = _lengths(rng, n, mean_tok)
    offsets, values = _token_rows(rng, lengths)
    n_tok = lengths.copy()
    doc_ids = [f"doc-{id_base + i:09d}" for i in range(n)]
    sources = [SOURCES[i] for i in rng.integers(0, len(SOURCES), n)]
    meta = _meta(rng, n)
    plan = _plan(rng, n, kinds, frac)
    for kind in kinds:
        for j, r in enumerate(int(r) for r in plan[kind]):
            a, b = int(offsets[r]), int(offsets[r + 1])
            if kind == "dup_doc_id":
                doc_ids[r] = doc_ids[int(plan["_dup_of"][j])]
            elif kind == "bad_pattern":
                doc_ids[r] = f"DOC_{id_base + r:09d}"
            elif kind == "n_tok_range":
                n_tok[r] = MAX_N_TOK + 1 + int(rng.integers(0, 4000))
            elif kind == "unknown_source":
                sources[r] = f"unknown-{int(rng.integers(0, 100)):02d}"
            elif kind == "missing_bos":
                values[a] = rng.integers(3, VOCAB)
            elif kind == "missing_eos":
                values[b - 1] = rng.integers(3, VOCAB)
            elif kind == "oov":
                values[int(rng.integers(a + 1, b - 1))] = VOCAB + int(rng.integers(0, 1000))
            elif kind == "meta_not_object":
                meta[r] = meta[r][: int(rng.integers(2, 12))]
            elif kind == "meta_missing_lang":
                meta[r] = f'{{"q": {int(rng.integers(0, 1000)) / 1000:.3f}}}'
            elif kind == "meta_bad_lang":
                meta[r] = f'{{"lang": {int(rng.integers(0, 100))}, "q": 0.5}}'
            else:
                raise ValueError(kind)
    table = _table(doc_ids, offsets, values, sources, meta, n_tok)
    return table, {k: int(len(plan[k])) for k in kinds}


def shingle_set(tokens, k: int = 5) -> set:
    """Distinct word k-shingles of ``array_join(tokens, ' ')`` — the set
    the package's MinHash verification and overlap matrix compare."""
    words = [str(t) for t in tokens]
    n = max(len(words) - k + 1, 1)
    return {" ".join(words[i : i + k]) for i in range(n)}


def jaccard(a, b, k: int = 5) -> float:
    sa, sb = shingle_set(a, k), shingle_set(b, k)
    return len(sa & sb) / len(sa | sb)


def corpus_table(rng, n, mean_tok, n_near_dups):
    """Corpus-operator input: skewed sources (one hot source holds half the
    rows), a few structural defects, and planted near-duplicate pairs (a
    copy with one interior token changed, exact Jaccard >= 0.85)."""
    n_base = n - n_near_dups
    lengths = _lengths(rng, n_base, mean_tok)
    offsets, values = _token_rows(rng, lengths)
    seqs = [values[offsets[i] : offsets[i + 1]].copy() for i in range(n_base)]
    weights = np.array([0.0] + [1.0 / (i + 1) for i in range(len(SOURCES) - 1)])
    weights[0] = weights[1:].sum()
    src_idx = rng.choice(len(SOURCES), n_base, p=weights / weights.sum())
    sources = [SOURCES[i] for i in src_idx]

    originals = rng.choice(np.flatnonzero(lengths >= 72), n_near_dups, replace=False)
    for o in originals:
        s = seqs[o].copy()
        mid = len(s) // 2
        s[mid] = 3 + (int(s[mid]) - 3 + 1 + int(rng.integers(0, VOCAB - 4))) % (VOCAB - 3)
        seqs.append(s)
        sources.append(SOURCES[int(rng.integers(0, len(SOURCES)))])

    # shuffle so the copies are spread, then number the docs by position
    order = rng.permutation(n)
    pos = np.empty(n, dtype=np.int64)
    pos[order] = np.arange(n)
    seqs = [seqs[i] for i in order]
    sources = [sources[i] for i in order]
    doc_ids = [f"c-{i:09d}" for i in range(n)]
    pair_rows = [(int(pos[o]), int(pos[n_base + j])) for j, o in enumerate(originals)]
    pairs = sorted(sorted([doc_ids[a], doc_ids[b]]) for a, b in pair_rows)

    # structural defects for structure_summary, never on near-dup rows
    taken = {r for p in pair_rows for r in p}
    free = np.array([i for i in range(n) if i not in taken])
    defect_rows = rng.choice(free, 3 * max(1, n // 400), replace=False)
    for i, r in enumerate(defect_rows):
        s = seqs[r]
        if i % 3 == 0:
            s[0] = 3 + int(rng.integers(0, VOCAB - 3))
        elif i % 3 == 1:
            s[-1] = 3 + int(rng.integers(0, VOCAB - 3))
        else:
            s[1] = VOCAB + int(rng.integers(0, 1000))

    for a, b in pair_rows:
        if jaccard(seqs[a], seqs[b]) < 0.85:
            raise AssertionError(f"planted pair {doc_ids[a]},{doc_ids[b]} is not a near-duplicate")
    lens = np.array([len(s) for s in seqs], dtype=np.int64)
    offs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    table = _table(doc_ids, offs, np.concatenate(seqs), sources, _meta(rng, n))
    return table, pairs


def sources_table():
    return pa.table(
        {"source_id": SOURCES, "title": [f"Source {s}" for s in SOURCES]}
    )


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    # several row groups per file so Spark gets several input splits
    pq.write_table(table, path, row_group_size=max(1000, table.num_rows // 8))


def generate(workload: str, scale: dict, seed: int, out: str) -> dict:
    """Write the inputs of one workload into ``out``; return the manifest."""
    rng = np.random.default_rng([seed, ["seq_cli", "seq_corpus"].index(workload)])
    manifest: dict = {"workload": workload, "seed": seed}
    if workload == "seq_corpus":
        table, pairs = corpus_table(
            rng, scale["corpus_rows"], scale["corpus_mean_tok"], scale["corpus_near_dups"]
        )
        _write(table, os.path.join(out, "corpus.parquet"))
        manifest.update(
            rows=table.num_rows,
            near_dup_pairs=pairs,
            hot_source=SOURCES[0],
            # doc_id bound selecting the below-gate subset for the overlap matrix
            subset_below=f"c-{scale['corpus_subset_rows']:09d}",
        )
        return manifest
    # seq_cli: one large table with sparse violations for the CLI, and
    # micro-batch files with dense violations for the streaming validator
    table, counts = planted_table(
        rng, scale["cli_rows"], scale["cli_mean_tok"], CLI_KINDS, scale["cli_plant_frac"]
    )
    _write(table, os.path.join(out, "sequences.parquet"))
    _write(sources_table(), os.path.join(out, "sources.parquet"))
    batches = []
    for i in range(scale["stream_batches"]):
        batch, planted = planted_table(
            rng,
            scale["stream_rows"],
            scale["cli_mean_tok"],
            STREAM_KINDS,
            scale["stream_plant_frac"],
            id_base=scale["cli_rows"] + i * scale["stream_rows"],
        )
        path = os.path.join(out, "batches", f"part-{i:04d}.parquet")
        _write(batch, path)
        # the file source orders files by modification time: pin the batch order
        t = 1_700_000_000 + i
        os.utime(path, (t, t))
        batches.append(planted)
    manifest.update(
        rows=table.num_rows,
        counts=counts,
        batch_rows=scale["stream_rows"],
        batches=batches,
    )
    return manifest


def ensure(cache_root: str, scale_name: str, workload: str, seed: int) -> str:
    """Directory holding the inputs for (scale, workload, seed), generated
    together with their DuckDB-derived expectations when not cached."""
    from . import oracle

    base = os.path.join(cache_root, scale_name, workload)
    # entries made under other sizes of the same scale name are not reused
    sizes = hashlib.sha1(json.dumps(SCALES[scale_name], sort_keys=True).encode()).hexdigest()[:8]
    out = os.path.join(base, f"seed-{seed}-{sizes}")
    if os.path.exists(os.path.join(out, "manifest.json")):
        os.utime(out)
        return out
    shutil.rmtree(out, ignore_errors=True)
    manifest = generate(workload, SCALES[scale_name], seed, out)
    manifest["expected"] = oracle.expected(workload, out, manifest)
    tmp = os.path.join(out, "manifest.json.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, os.path.join(out, "manifest.json"))
    _evict(base, keep=out)
    return out


def _evict(base: str, keep: str) -> None:
    entries = [os.path.join(base, d) for d in os.listdir(base)]
    entries = [e for e in entries if os.path.isdir(e) and e != keep]
    entries.sort(key=os.path.getmtime, reverse=True)
    for e in entries[KEEP_SEEDS - 1 :]:
        shutil.rmtree(e, ignore_errors=True)
