"""Unit vectors for the dedup kernels, frozen from the reference's
observed behaviour (dedup_helpers.py; captured by executing the reference
functions — values below are golden literals, not imports)."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from graphiti_spark.functions import dedup_text as dt

GOLDEN = [
    # name, normalize_exact, normalize_fuzzy, entropy(fuzzy), gate(fuzzy)
    ("Joe  Michaels", "joe michaels", "joe michaels", 3.277613, True),
    ("joe michaels", "joe michaels", "joe michaels", 3.277613, True),
    ("Joe-Michaels", "joe-michaels", "joe michaels", 3.277613, True),
    ("Joe", "joe", "joe", 1.584963, False),
    ("Alice Smith", "alice smith", "alice smith", 3.121928, True),
    ("Alicia Smith-Jones", "alicia smith-jones", "alicia smith jones", 3.45282, True),
    ("the fast key", "the fast key", "the fast key", 2.921928, True),
    ("spark", "spark", "spark", 2.321928, False),
    ("", "", "", 0.0, False),
    ("A1", "a1", "a1", 1.0, False),
    ("O'Brien Co.", "o'brien co.", "o'brien co", 2.947703, True),
]


@pytest.mark.parametrize("name,exact,fuzzy,entropy,gate", GOLDEN)
def test_normalization_entropy_gate(name, exact, fuzzy, entropy, gate):
    assert dt.normalize_string_exact(name) == exact
    assert dt.normalize_name_for_fuzzy(name) == fuzzy
    assert dt.name_entropy(fuzzy) == pytest.approx(entropy, abs=1e-6)
    assert dt.has_high_entropy(fuzzy) is gate


def test_shingles_golden():
    assert sorted(dt.shingles("joe michaels")) == [
        "ael", "cha", "els", "emi", "hae", "ich", "joe", "mic", "oem",
    ]
    assert dt.shingles("") == set()
    assert dt.shingles("a") == {"a"}
    # reference quirk: exactly-2-char names fall through to the 3-gram
    # comprehension over range(0) → EMPTY set (no bands, never blocked)
    assert dt.shingles("ab") == set()


def test_minhash_golden():
    # blake2b('0:joe') 64-bit big-endian, captured from reference behaviour
    assert dt.hash_shingle("joe", 0) == 16172621252911741942
    sig = dt.minhash_signature(dt.shingles("joe michaels"))
    assert len(sig) == 32
    assert sig[:4] == (
        1078529113293624082,
        1577726972782792592,
        254910640793351996,
        1002309998627676685,
    )
    bands = dt.lsh_bands(sig)
    assert len(bands) == 8
    assert bands[0] == sig[:4]
    assert dt.minhash_signature(set()) == ()
    assert dt.lsh_bands(()) == []


def test_jaccard_edge_cases():
    assert dt.jaccard_similarity(set(), set()) == 1.0
    assert dt.jaccard_similarity({"a"}, set()) == 0.0
    a = dt.shingles("joe michaels")
    b = dt.shingles(dt.normalize_name_for_fuzzy("Joe-Michaels"))
    assert dt.jaccard_similarity(a, b) == 1.0
    c = dt.shingles(dt.normalize_name_for_fuzzy("Alicia Smith-Jones"))
    d = dt.shingles(dt.normalize_name_for_fuzzy("Alice Smith"))
    assert dt.jaccard_similarity(c, d) < 0.9


# ---- native Spark columns must agree with the python kernels ----


def test_spark_kernels_match_python(spark):
    from pyspark.sql import functions as F

    names = [n for n, *_ in GOLDEN if n] + ["fast key", "customer", "x y"]
    df = spark.createDataFrame([(n,) for n in names], "name string")
    out = (
        df.withColumn("exact", dt.normalize_string_exact_col(F.col("name")))
        .withColumn("fuzzy", dt.normalize_name_for_fuzzy_col(F.col("name")))
        .withColumn("gate", dt.entropy_gate_col(F.col("fuzzy")))
        .withColumn("sh", dt.shingles_col(F.col("fuzzy")))
        .withColumn("sig", dt.minhash_signature_udf(F.col("sh")))
        .collect()
    )
    for row in out:
        assert row.exact == dt.normalize_string_exact(row.name), row.name
        assert row.fuzzy == dt.normalize_name_for_fuzzy(row.name), row.name
        assert row.gate == dt.has_high_entropy(row.fuzzy), row.name
        assert sorted(row.sh) == sorted(dt.shingles(row.fuzzy)), row.name
        expected_sig = [
            v - (1 << 64) if v >= (1 << 63) else v
            for v in dt.minhash_signature(dt.shingles(row.fuzzy))
        ]
        assert list(row.sig) == expected_sig, row.name


def test_spark_jaccard_matches_python(spark):
    from pyspark.sql import functions as F

    cases = [
        ("joe michaels", "joe michaels"),
        ("joe michaels", "alicia smith jones"),
        ("alice smith", "alicia smith jones"),
        ("ab", "ab"),
    ]
    df = spark.createDataFrame(cases, "a string, b string")
    rows = df.select(
        "a",
        "b",
        dt.jaccard_col(dt.shingles_col(F.col("a")), dt.shingles_col(F.col("b"))).alias(
            "j"
        ),
    ).collect()
    for r in rows:
        assert r.j == pytest.approx(
            dt.jaccard_similarity(dt.shingles(r.a), dt.shingles(r.b)), abs=1e-9
        )


# ---- the per-batch memoized MinHash kernel ----

_SHINGLE = st.text(alphabet=st.sampled_from("abz' 0é中ß"), min_size=1, max_size=4)


def _wrapped(shingle_set):
    return [v - (1 << 64) if v >= (1 << 63) else v
            for v in dt.minhash_signature(shingle_set)]


@settings(max_examples=60, derandomize=True, deadline=None)
@given(st.lists(st.one_of(st.none(), st.lists(_SHINGLE, max_size=6)), max_size=8))
def test_memoized_minhash_matches_reference(batch):
    """One Arrow batch through the memoized kernel equals the per-set
    reference signature: empty sets give empty signatures, null arrays
    stay null, repeated and non-ASCII shingles (shared across rows, so
    the memo is hit) hash as in the reference."""
    import pandas as pd

    out = dt.minhash_signatures(pd.Series(batch, dtype=object))
    assert len(out) == len(batch)
    for arr, sig in zip(batch, out):
        if arr is None:
            assert sig is None
        else:
            assert list(sig) == _wrapped(set(arr))


def test_memoized_minhash_udf_matches_reference(spark):
    """The same kernel inside Spark, fed by Arrow."""
    from pyspark.sql import functions as F

    rows = [(None,), ([],), (["abc"],), (["ab", "ab", "é中x"],), (["abc", "ßz"],)]
    df = spark.createDataFrame(rows, "sh array<string>")
    got = [r.sig for r in df.select(dt.minhash_signature_udf(F.col("sh")).alias("sig")).collect()]
    want = [None if sh is None else _wrapped(set(sh)) for (sh,) in rows]
    assert [None if g is None else list(g) for g in got] == want
