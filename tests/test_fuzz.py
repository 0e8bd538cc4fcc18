"""Seeded fuzz tests: vectorized formulas vs Python ground truth over
randomized inputs (one Spark batch per property — hypothesis-style
coverage without per-example Spark overhead)."""

from __future__ import annotations

import random
import string

from pyspark.sql import functions as F

from check_datapackage_spark.operators import text

rng = random.Random(42)


def _random_texts(n: int = 300) -> list[str]:
    alphabet = string.ascii_letters + string.digits + " \t\n.,;!?-'\"()"
    out = []
    for _ in range(n):
        k = rng.randint(0, 80)
        out.append("".join(rng.choice(alphabet) for _ in range(k)))
    out += ["", " ", "\t\n", "one", "a  b", " lead", "trail ", "a\tb\nc"]
    return out


def test_token_counts_arrow_equal_python(spark):
    """Both q10 counts equal their Python ground truth: ``ws`` is
    ``str.split()``'s word count, ``re`` the number of regex tokens."""
    import re

    texts = _random_texts()
    df = spark.createDataFrame([(t,) for t in texts], ["t"])
    got = [
        (r["tc"]["ws"], r["tc"]["re"])
        for r in df.select(text.token_counts_arrow(F.col("t")).alias("tc")).collect()
    ]
    exp = [
        (len(t.split()), len(re.findall(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]", t)))
        for t in texts
    ]
    assert got == exp


def test_integer_conformance_equals_python(spark):
    from check_datapackage_spark.functions import type_conforms

    vals = [str(rng.randint(-10**12, 10**12)) for _ in range(100)]
    vals += [f"{rng.uniform(-100, 100):.3f}" for _ in range(50)]
    vals += ["", " 1", "1 ", "+5", "-0", "1e3", "abc", "0x10", "12.0"]

    def py_ok(s):
        try:
            int(s)
            return True
        except ValueError:
            return False

    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    got = [
        r[0] for r in df.select(type_conforms(F.col("v"), "integer")).collect()
    ]
    exp = [py_ok(v) for v in vals]
    mism = [(v, g, e) for v, g, e in zip(vals, got, exp) if g != e]
    # documented divergence: Spark try_cast trims whitespace; Python
    # int() accepts it too — both sides agree there. No other drift.
    assert not mism, mism


def test_exclusion_exact_path_always_matches(spark):
    """Property: excluding a violation by its own jsonpath removes it."""
    from check_datapackage_spark.jsonpath import address_regex
    import re

    for _ in range(200):
        depth = rng.randint(1, 4)
        parts = ["$"]
        for _ in range(depth):
            if rng.random() < 0.5:
                parts.append("." + "".join(rng.choices(string.ascii_lowercase, k=4)))
            else:
                parts.append(f"[{rng.randint(0, 99)}]")
        path = "".join(parts)
        assert re.match(address_regex(path), path), path
