"""Bit-identical decode verification (north_rule).

Three modes, one invariant:

* ``verify_decode_digest`` — the 100 TB DEFAULT: order-independent
  per-column hash digests, both scans in one action, zero joins (the
  full-outer mode shuffles ~2× the corpus including text bodies just
  to prove equality; the digest proves the same multiset identity at
  scan cost).
* ``verify_decode`` — forensic mode: full-outer equi-join on
  (conv_id, turn_idx) (SURVEY.md §2.6) + ONE aggregate yielding
  per-column mismatch COUNTS — run it after a digest mismatch to
  localize the damage.
* ``verify_decode_multiset`` — join variant for inputs whose key may
  legitimately repeat.

The join modes run the decode pipeline (the dominant cost) exactly
once per verify, not once per counter.

Key contract: (conv_id, turn_idx) is unique per side — the engine's
own decode output is unique by construction (encode groups sort on the
key) and the transcript data model guarantees it for the reference.
The same single aggregate DETECTS violations (distinct-key counts) and
fails with explicit duplicate flags rather than mis-counting; inputs
with legitimate duplicate keys should use ``verify_decode_multiset``,
which compares (row → multiplicity) maps and is order/duplication
exact.

Reference analog: _verify_conversion re-scans the written parquet and
checks shape (/root/reference/parquet_converter/converter.py:658-707);
here the invariant is strengthened to per-value bit-identity.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

from .schema import ENCODED_COLUMNS

VALUE_COLUMNS = [c for c in ENCODED_COLUMNS if c not in ("conv_id", "turn_idx")]
KEY_COLUMNS = ["conv_id", "turn_idx"]


def verify_decode(decoded: DataFrame, reference: DataFrame) -> dict:
    """Return {column: mismatch_count} plus row counts — one job total."""
    d = decoded.select(*KEY_COLUMNS, *VALUE_COLUMNS).withColumn("_d", F.lit(1))
    r = reference.select(*KEY_COLUMNS, *VALUE_COLUMNS).withColumn("_r", F.lit(1))
    joined = d.alias("d").join(r.alias("r"), KEY_COLUMNS, "full_outer")
    both = F.col("d._d").isNotNull() & F.col("r._r").isNotNull()
    key_struct = F.struct(*[F.col(k) for k in KEY_COLUMNS])
    aggs = [
        F.sum(
            F.when(both & ~F.col(f"d.{c}").eqNullSafe(F.col(f"r.{c}")), 1).otherwise(0)
        ).alias(c)
        for c in VALUE_COLUMNS
    ]
    aggs += [
        F.sum(both.cast("long")).alias("joined_rows"),
        F.sum(F.col("d._d").isNotNull().cast("long")).alias("decoded_rows"),
        F.sum(F.col("r._r").isNotNull().cast("long")).alias("reference_rows"),
        # duplicate-key detection in the same pass: the join output has
        # a repeated key iff EITHER input does (outer rows keep their
        # key; matched dup keys fan out), so ONE countDistinct over all
        # join keys suffices — expand factor 2, not 3
        F.count(F.lit(1)).alias("_rows"),
        F.countDistinct(key_struct).alias("_keys"),
    ]
    row = joined.agg(*aggs).collect()[0]
    result = {c: int(row[c] or 0) for c in VALUE_COLUMNS}
    result["joined_rows"] = int(row["joined_rows"] or 0)
    result["decoded_rows"] = int(row["decoded_rows"] or 0)
    result["reference_rows"] = int(row["reference_rows"] or 0)
    # with duplicate keys the join cross-product inflates BOTH sides'
    # row counters, so the violation is detectable but not attributable
    # to a side in one pass — one flag, and the verify fails loudly
    result["dup_keys"] = int(row["_rows"] or 0) != int(row["_keys"] or 0)
    result["ok"] = (
        all(result[c] == 0 for c in VALUE_COLUMNS)
        and result["joined_rows"] == result["reference_rows"] == result["decoded_rows"]
        and not result["dup_keys"]
    )
    return result


def _digest_frame(df: DataFrame) -> DataFrame:
    """One scan → per-column order-independent digests.

    For each value column: sum and bit_xor of
    ``xxhash64(col_name, conv_id, turn_idx, col)`` over all rows (the
    column name seeds the hash so columns can't alias), plus a key-only
    digest and the row count. The sum runs in decimal(38,0) — ANSI mode
    is on and a long sum of 10^12 hashes would overflow-throw; decimal
    has 38 digits ≈ 126 bits of headroom. sum + xor + count together
    make accidental cancellation (two corruptions xor-ing away)
    astronomically unlikely while staying pure map-side aggregation.
    """
    keyh = F.xxhash64(F.lit("__key__"), *[F.col(k) for k in KEY_COLUMNS])
    aggs = [
        F.count(F.lit(1)).alias("rows"),
        F.sum(keyh.cast("decimal(38,0)")).alias("key_sum"),
        F.bit_xor(keyh).alias("key_xor"),
    ]
    for c in VALUE_COLUMNS:
        h = F.xxhash64(F.lit(c), *[F.col(k) for k in KEY_COLUMNS], F.col(c))
        aggs.append(F.sum(h.cast("decimal(38,0)")).alias(f"sum_{c}"))
        aggs.append(F.bit_xor(h).alias(f"xor_{c}"))
    return df.agg(*aggs)


def _digests(decoded: DataFrame, reference: DataFrame) -> DataFrame:
    """Both sides' digest rows in ONE frame, tagged ``_decoded``: one
    action runs both scans. The decoded side comes first because AQE
    submits the union's two aggregate stages together in plan order, so
    the decode's Python tasks (the long pole) take the cores first and
    the reference scan runs on the cores that the decode's shortest
    tasks free; reference first, the decode would start behind it
    (warm verify of the 200k-turn benchmark ``scan`` table at local[4],
    median of 10: 0.63 s decoded first, 0.70 s reference first)."""
    d, r = (
        _digest_frame(df.select(*KEY_COLUMNS, *VALUE_COLUMNS)).select(
            F.lit(side).alias("_decoded"), "*"
        )
        for side, df in ((True, decoded), (False, reference))
    )
    return d.unionByName(r)


def verify_decode_digest(decoded: DataFrame, reference: DataFrame) -> dict:
    """Scan-cost verification (the 100 TB default): order-independent
    per-column hash digests compared across sides — two scans in ONE
    action, ZERO joins, no shuffle of document text. The full-outer
    ``verify_decode`` shuffles the entire decoded + reference corpus
    (≈2× data volume) to prove equality; this proves the same multiset
    equality at scan cost and keeps the join as the forensic mode for
    localizing a mismatch.

    Result shape mirrors ``verify_decode``: per-column values are 0/1
    MISMATCH FLAGS (a digest can detect, not count), plus both row
    counts and ``ok``. Exact multiset semantics: row order, duplicate
    keys, and null placement all affect the digests identically on both
    sides.

    Reference analog: _verify_conversion's cheap re-scan
    (/root/reference/parquet_converter/converter.py:658-707) — shape
    check there, multiset value-identity here.
    """
    rows = {row["_decoded"]: row for row in _digests(decoded, reference).collect()}
    d, r = rows[True], rows[False]
    result = {
        c: int(d[f"sum_{c}"] != r[f"sum_{c}"] or d[f"xor_{c}"] != r[f"xor_{c}"])
        for c in VALUE_COLUMNS
    }
    result["decoded_rows"] = int(d["rows"] or 0)
    result["reference_rows"] = int(r["rows"] or 0)
    result["key_digest_match"] = bool(
        d["key_sum"] == r["key_sum"] and d["key_xor"] == r["key_xor"]
    )
    result["ok"] = (
        all(result[c] == 0 for c in VALUE_COLUMNS)
        and result["decoded_rows"] == result["reference_rows"]
        and result["key_digest_match"]
    )
    return result


def verify_decode_multiset(decoded: DataFrame, reference: DataFrame) -> dict:
    """Exact multiset equality for inputs whose key may repeat: group
    each side by the FULL row (SQL GROUP BY treats nulls as equal, which
    is the multiset semantics we want), full-outer join on every column
    null-safely, and compare multiplicities. One shuffle per side + one
    join — still a single decode execution."""
    cols = KEY_COLUMNS + VALUE_COLUMNS
    dg = decoded.groupBy(*cols).agg(F.count("*").alias("_nd")).alias("d")
    rg = reference.groupBy(*cols).agg(F.count("*").alias("_nr")).alias("r")
    cond = reduce(
        lambda a, b: a & b,
        [F.col(f"d.{c}").eqNullSafe(F.col(f"r.{c}")) for c in cols],
    )
    j = dg.join(rg, cond, "full_outer")
    row = j.agg(
        F.sum(
            F.when(
                F.coalesce(F.col("d._nd"), F.lit(0))
                != F.coalesce(F.col("r._nr"), F.lit(0)),
                1,
            ).otherwise(0)
        ).alias("mismatched_rows"),
        F.sum(F.coalesce(F.col("d._nd"), F.lit(0))).alias("decoded_rows"),
        F.sum(F.coalesce(F.col("r._nr"), F.lit(0))).alias("reference_rows"),
    ).collect()[0]
    return {
        "mismatched_rows": int(row["mismatched_rows"] or 0),
        "decoded_rows": int(row["decoded_rows"] or 0),
        "reference_rows": int(row["reference_rows"] or 0),
        "ok": int(row["mismatched_rows"] or 0) == 0
        and int(row["decoded_rows"] or 0) == int(row["reference_rows"] or 0),
    }
