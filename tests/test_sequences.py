"""Unit tests for the round-4 training-pipeline operators:
sequence-structure validation, URL/blocklist stats, semantic dedup."""

from __future__ import annotations

from pyspark.sql import functions as F

from check_datapackage_spark.operators import sequences, similarity, text


def test_structure_flags_each_violation(spark):
    BOS, EOS, PAD, MAX = 100, 101, 102, 102
    rows = [
        (1, [BOS, 1, 2, EOS]),        # clean
        (2, [1, 2, EOS]),             # missing bos
        (3, [BOS, 1, 2, PAD]),        # bad eos (pad tail is NOT interior)
        (4, [BOS, PAD, 2, EOS]),      # interior pad
        (5, [BOS, 1, 999, EOS]),      # oov
        (6, [PAD, 1, 2, PAD]),        # endpoints pad only: bos+eos bad, no interior
        (7, []),                      # empty shard: bos+eos violations, no crash
    ]
    df = spark.createDataFrame(rows, "id long, tokens array<long>")
    out = (
        df.select(
            "id",
            sequences.structure_flags(
                F.col("tokens"), bos=BOS, eos=EOS, pad=PAD, max_id=MAX
            ).alias("f"),
        )
        .select("id", "f.*")
        .orderBy("id")
        .collect()
    )
    got = {
        r["id"]: (r["missing_bos"], r["bad_eos"], r["pad_interior"], r["oov"])
        for r in out
    }
    assert got[1] == (False, False, False, False)
    assert got[2] == (True, False, False, False)
    assert got[3] == (False, True, False, False)
    assert got[4] == (False, False, True, False)
    assert got[5] == (False, False, False, True)
    assert got[6] == (True, True, False, False)
    # ANSI mode: try_element_at keeps empty arrays from aborting the job
    assert got[7] == (True, True, False, False)


def test_structure_summary_counts(spark):
    BOS, EOS, PAD = 0, 1, 2
    rows = [
        ("a", [BOS, 5, EOS]),
        ("a", [5, EOS]),
        ("b", [BOS, PAD, EOS]),
        ("b", [BOS, 5, EOS]),
    ]
    df = spark.createDataFrame(rows, "source string, tokens array<long>")
    out = {
        r["source"]: r.asDict()
        for r in sequences.structure_summary(
            df, F.col("tokens"), bos=BOS, eos=EOS, pad=PAD, max_id=10
        ).collect()
    }
    assert out["a"]["n_seqs"] == 2 and out["a"]["n_missing_bos"] == 1
    assert out["b"]["n_pad_interior"] == 1 and out["b"]["n_bad_eos"] == 0


def test_url_domain_stats_extract_and_blocklist(spark):
    rows = [
        ("s1", "see http://Bad.example.com/x and https://ok.org/y"),
        ("s1", "no urls here"),
        ("s1", "again http://bad.example.com/z"),
        ("s2", "ftp://not-a-match.com plus https://ok.org"),
    ]
    df = spark.createDataFrame(rows, "source string, text string")
    out = {
        (r["source"], r["domain"]): (r["n_urls"], r["blocked"])
        for r in text.url_domain_stats(
            df, "text", blocklist=["bad.example.com"]
        ).collect()
    }
    # case-folded domains aggregate together; ftp never matches
    assert out[("s1", "bad.example.com")] == (2, True)
    assert out[("s1", "ok.org")] == (1, False)
    assert out[("s2", "ok.org")] == (1, False)
    assert len(out) == 3


def test_semantic_dedup_finds_planted_pair(spark):
    # vec 1 and its near-copy 2 must share a cell and score ~1;
    # vec 3 is far away in embedding space.
    dim = 8
    base = [float(i % 3 + 1) for i in range(dim)]
    near = [v + 0.001 for v in base]
    far = [float((i * 7) % 5 - 2) for i in range(dim)]
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)],
        "vec_id long, embedding array<float>",
    )
    out = similarity.semantic_dedup_exact(
        df, dim=dim, n_cells=4, threshold=0.9
    ).collect()
    pairs = {(r["id_a"], r["id_b"]): r["score"] for r in out}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 0.99
    assert all(a < b for a, b in pairs)


def test_semantic_dedup_only_within_cells(spark):
    # every returned pair must share the cell of both members
    df = spark.createDataFrame(
        [(i, [float((i * j) % 7 - 3) for j in range(8)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    out = similarity.semantic_dedup_exact(
        df, dim=8, n_cells=4, threshold=-1.1
    )
    # threshold -1.1 keeps ALL within-cell pairs: total must equal
    # sum over cells of C(n,2), i.e. strictly fewer than C(40,2)
    n_pairs = out.count()
    assert 0 < n_pairs < 40 * 39 // 2


def test_structure_checks_in_check_table(spark):
    from check_datapackage_spark.operators.sequences import structure_checks
    from check_datapackage_spark.plans.validation import violations_plan

    BOS, EOS, PAD = 0, 1, 2
    rows = [
        (1, [BOS, 5, EOS]),   # clean
        (2, [5, EOS]),        # missing bos
        (3, [BOS, PAD, EOS]), # interior pad
        (4, [BOS, 99, EOS]),  # oov (max_id 10)
        (5, []),              # empty: bos+eos violations (ANSI-safe)
    ]
    df = spark.createDataFrame(rows, "doc_id long, tokens array<long>")
    v = violations_plan(
        df,
        structure_checks("tokens", bos=BOS, eos=EOS, pad=PAD, max_id=10),
        table_name="seqs",
        row_key="doc_id",
    )
    got = {(r["row_key"], r["check"]) for r in v.collect()}
    assert ("2", "tokens.bos_first") in got
    assert ("3", "tokens.no_interior_pad") in got
    assert ("4", "tokens.in_vocab") in got
    assert ("5", "tokens.bos_first") in got
    assert ("5", "tokens.eos_last") in got
    assert not any(rk == "1" for rk, _ in got)
    assert not any(rk == "5" and c == "tokens.no_interior_pad" for rk, c in got)


def test_structure_checks_streaming(spark, tmp_path):
    from check_datapackage_spark.operators.sequences import structure_checks
    from check_datapackage_spark.plans.validation import violations_plan

    BOS, EOS, PAD = 0, 1, 2
    src = str(tmp_path / "seq_in")
    spark.createDataFrame(
        [(1, [BOS, 5, EOS]), (2, [5, EOS]), (3, [BOS, 5, PAD, 5, EOS])],
        "doc_id long, tokens array<long>",
    ).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    out = violations_plan(
        stream,
        structure_checks("tokens", bos=BOS, eos=EOS, pad=PAD, max_id=10),
        table_name="seqs",
        row_key="doc_id",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("seq_struct")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["row_key"], r["check"])
        for r in spark.sql("SELECT * FROM seq_struct").collect()
    }
    assert got == {("2", "tokens.bos_first"), ("3", "tokens.no_interior_pad")}


def test_cli_tokens_structure_flag(spark, tmp_path):
    import json

    from check_datapackage_spark import cli

    data = tmp_path / "data"
    data.mkdir()
    spark.createDataFrame(
        [(1, [0, 5, 1]), (2, [5, 1]), (3, [0, 2, 5, 1])],
        "doc_id long, tokens array<long>",
    ).write.parquet(str(data / "seqs.parquet"))
    spec = tmp_path / "spec.json"
    spec.write_text(
        json.dumps(
            {
                "name": "seqs",
                "schema": {
                    "fields": [{"name": "doc_id", "type": "integer"}],
                    "primaryKey": ["doc_id"],
                },
            }
        )
    )
    rc = cli.main(
        [
            "--data", str(data),
            "--table", "seqs",
            "--spec", str(spec),
            "--tokens-structure", "0,1,2,10",
            "--error",
        ]
    )
    assert rc == 1  # rows 2 (missing bos) and 3 (interior pad) violate
