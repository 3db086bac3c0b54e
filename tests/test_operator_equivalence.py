"""Equivalence of two operator rewrites with the builtins they replace:
the two-pass exact median ≡ Spark's ``median``, and SimHash's packed
two-field bit votes ≡ 64 unpacked vote sums."""

from __future__ import annotations

import math
import struct

import pytest
from pyspark.sql import functions as F

from parquet_converter_spark.operators import dedup, profile

NAN = float("nan")

MEDIAN_CASES = {
    "odd": [3.0, 1.0, 2.0, 5.0, 4.0],
    "even": [1.0, 2.0, 3.5, 10.0],
    "ties_at_median": [1.0, 2.0, 2.0, 2.0, 3.0, 9.0],
    "nulls_skipped": [None, 4.0, None, -1.5, 0.25],
    "nan_sorts_greatest": [1.0, NAN, 2.0, NAN, 3.0],
    "nan_at_upper_order_statistic": [1.0, 2.0, NAN, NAN],
    "all_nan": [NAN, NAN, NAN],
    "one_repeated_value": [7.25] * 6,
    "negative_zero_and_subnormal": [-0.0, 0.0, 5e-324, -5e-324, 1e300, -1e300],
    # the weighted interpolation, not a midpoint: (a + b) / 2 overflows
    # here, and rounds 1.5 ulp up to 2 in the subnormal case
    "interpolation_near_double_max": [1.7e308, -1.0, 1.5e308, 1.6e308],
    "interpolation_of_subnormals": [0.0, 5e-324, 1e-323, 1.0],
}


def _bits(x):
    return "nan" if x is not None and math.isnan(x) else (
        None if x is None else struct.pack("<d", x)
    )


def _twopass_and_builtin(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "x double")
    twopass = profile._exact_median_twopass(df, "x", profile._double_stats(df, "x"))
    builtin = df.agg(F.median("x")).collect()[0][0]
    return twopass, builtin


@pytest.fixture
def no_fallback(monkeypatch):
    """Every case must be answered by the two-pass path itself."""

    def fail(df, col):
        raise AssertionError("fell back to the builtin median")

    monkeypatch.setattr(profile, "_median_builtin", fail)


@pytest.mark.parametrize("case", sorted(MEDIAN_CASES))
def test_twopass_median_equals_builtin(spark, no_fallback, case):
    twopass, builtin = _twopass_and_builtin(spark, MEDIAN_CASES[case])
    assert _bits(twopass) == _bits(builtin), (twopass, builtin)


def test_twopass_median_pinpoint_across_two_buckets(spark, no_fallback, monkeypatch):
    """With 2 histogram buckets over 0..9 the lower order statistic (4)
    lands in bucket 0 and the upper (5) in bucket 1: the pinpoint pass
    must read both buckets and interpolate across them."""
    monkeypatch.setattr(profile, "_MEDIAN_BUCKETS", 2)
    values = [float(v) for v in (9, 0, 8, 1, 7, 2, 6, 3, 5, 4)]
    twopass, builtin = _twopass_and_builtin(spark, values)
    assert twopass == builtin == 4.5


def _signed(u: int) -> int:
    return u - (1 << 64) if u >= 1 << 63 else u


def test_simhash_packed_votes_equal_unpacked_reference(spark):
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy dog",
        "  lorem ipsum   dolor sit amet ",
        "a",
        "",
        "one two three four five six seven eight nine ten " * 7,
        "emoji 🙂 and ünïcode tokens 🙂",
    ]
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    votes = dedup._token_hashes(docs, "text", "doc_id").groupBy("doc_id").agg(
        F.count("*").alias("n_tok"),
        *[F.sum(F.shiftrightunsigned("h", b).bitwiseAND(F.lit(1))).alias(f"v{b}")
          for b in range(64)],
    )
    reference = {}
    for r in votes.collect():
        u = sum(1 << b for b in range(64) if 2 * r[f"v{b}"] >= r["n_tok"])
        reference[r["doc_id"]] = _signed(u)
    packed = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    assert len(reference) == len(texts) - 1  # the empty text has no tokens
    assert packed == reference


@pytest.mark.parametrize("n_tok", [(1 << 32) - 1, 1 << 32, (1 << 32) + 1])
def test_simhash_vote_fields_at_the_overflow_bound(spark, n_tok):
    """Per-field vote sums of 2^31−1 and 2^31 on either side of the
    half-vote threshold: every field decodes independently, including a
    high field of 2^31 whose packed sum has the sign bit set."""
    fields = [(1 << 31) - 1, 1 << 31]
    row, expected = [7, n_tok], 0
    for a in range(32):
        lo, hi = fields[a % 2], fields[(a // 2) % 2]
        row.append(_signed((hi << 32) | lo))
        expected |= (2 * lo >= n_tok) << (2 * a) | (2 * hi >= n_tok) << (2 * a + 1)
    schema = "doc_id long, n_tok long, " + ", ".join(f"p{a} long" for a in range(32))
    votes = spark.createDataFrame([tuple(row)], schema)
    got = dedup._vote_bits(votes, "doc_id").collect()[0]["simhash"]
    assert got == _signed(expected)
