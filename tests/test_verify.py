"""verify_decode: single-pass execution, mismatch attribution, duplicate
keys, the multiset variant, and the scan-cost digest mode."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from parquet_converter_spark.verify import (
    verify_decode,
    verify_decode_digest,
    verify_decode_multiset,
)


@pytest.fixture(scope="module")
def ref(spark):
    from parquet_converter_spark.schema import TRANSCRIPT_SCHEMA
    from parquet_converter_spark.synth import synth_pandas

    return spark.createDataFrame(synth_pandas(n_convs=10, seed=9), schema=TRANSCRIPT_SCHEMA).cache()


def test_identical_ok(ref):
    r = verify_decode(ref, ref)
    assert r["ok"] and r["joined_rows"] == r["decoded_rows"] == r["reference_rows"]
    assert not r["dup_keys"]


def test_tamper_attributed_to_column(ref):
    tampered = ref.withColumn(
        "text", F.when(F.col("turn_idx") == 0, F.lit("XXX")).otherwise(F.col("text"))
    )
    r = verify_decode(tampered, ref)
    assert not r["ok"]
    assert r["text"] > 0 and r["role"] == 0 and r["ts"] == 0


def test_missing_row_detected(ref):
    r = verify_decode(ref.where(F.col("turn_idx") > 0), ref)
    assert not r["ok"]
    assert r["decoded_rows"] < r["reference_rows"]
    assert r["joined_rows"] == r["decoded_rows"]


def test_null_vs_value_mismatch(ref):
    nulled = ref.withColumn(
        "tool", F.when(F.col("tool").isNotNull(), F.lit(None).cast("string")).otherwise(F.col("tool"))
    )
    had_tools = ref.where(F.col("tool").isNotNull()).count()
    r = verify_decode(nulled, ref)
    assert r["tool"] == had_tools


def test_duplicate_keys_flagged_not_miscounted(ref):
    dup = ref.unionByName(ref.limit(5))
    r = verify_decode(dup, ref)
    assert not r["ok"] and r["dup_keys"]


def test_single_pass_one_action(ref, monkeypatch):
    """The verify must trigger exactly ONE DataFrame action (the old
    implementation re-executed the decode pipeline three times via
    .agg + .count + .count)."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDF

    calls = {"collect": 0, "count": 0}
    orig_collect, orig_count = ClassicDF.collect, ClassicDF.count
    monkeypatch.setattr(
        ClassicDF, "collect",
        lambda self: (calls.__setitem__("collect", calls["collect"] + 1), orig_collect(self))[1],
    )
    monkeypatch.setattr(
        ClassicDF, "count",
        lambda self: (calls.__setitem__("count", calls["count"] + 1), orig_count(self))[1],
    )
    r = verify_decode(ref, ref)
    assert r["ok"]
    assert calls == {"collect": 1, "count": 0}


def test_multiset_equal_with_duplicates(ref):
    dup_a = ref.unionByName(ref.limit(7))
    dup_b = ref.limit(7).unionByName(ref)  # same multiset, different order
    r = verify_decode_multiset(dup_a, dup_b)
    assert r["ok"] and r["mismatched_rows"] == 0
    assert r["decoded_rows"] == r["reference_rows"] == ref.count() + 7


def test_multiset_detects_multiplicity_drift(ref):
    dup_a = ref.unionByName(ref.limit(7))
    r = verify_decode_multiset(dup_a, ref)
    assert not r["ok"] and r["mismatched_rows"] == 7


# ---------------------------------------------------------------------------
# digest mode (VERDICT r02 next-round #2): scan-cost, no join


def test_digest_agrees_with_join_on_green_path(ref):
    d = verify_decode_digest(ref, ref)
    j = verify_decode(ref, ref)
    assert d["ok"] and j["ok"]
    assert d["decoded_rows"] == j["decoded_rows"]
    assert all(d[c] == 0 for c in ("role", "text", "tool", "ts"))


def test_digest_catches_seeded_single_cell_corruption(ref):
    """Flip ONE cell in one row — digest and join must both flag the
    same column, and no other."""
    key = ref.select("conv_id", "turn_idx").orderBy("conv_id", "turn_idx").head()
    tampered = ref.withColumn(
        "text",
        F.when(
            (F.col("conv_id") == key["conv_id"]) & (F.col("turn_idx") == key["turn_idx"]),
            F.concat(F.col("text"), F.lit("!")),
        ).otherwise(F.col("text")),
    )
    d = verify_decode_digest(tampered, ref)
    j = verify_decode(tampered, ref)
    assert not d["ok"] and not j["ok"]
    assert d["text"] == 1 and j["text"] == 1
    assert d["role"] == d["tool"] == d["ts"] == 0
    assert d["key_digest_match"]  # keys untouched — only the value digest moved


def test_digest_order_independent_and_null_exact(ref):
    shuffled = ref.orderBy(F.desc("text"))  # same multiset, different order
    assert verify_decode_digest(shuffled, ref)["ok"]
    # null vs value must differ (xxhash64 skips null children — the
    # column-name seed + key prefix still shifts the digest)
    nulled = ref.withColumn(
        "tool",
        F.when(F.col("tool").isNotNull(), F.lit(None).cast("string")).otherwise(F.col("tool")),
    )
    r = verify_decode_digest(nulled, ref)
    assert not r["ok"] and r["tool"] == 1


def test_digest_detects_row_count_drift(ref):
    r = verify_decode_digest(ref.where(F.col("turn_idx") > 0), ref)
    assert not r["ok"]
    assert r["decoded_rows"] < r["reference_rows"]
    assert not r["key_digest_match"]


def test_digest_plan_has_no_join_or_corpus_shuffle(ref):
    """The digest side-aggregate must be a pure (partial -> final)
    HashAggregate: no Join, and the only Exchange is the single-row
    partial-aggregate merge — never a hash repartition of the corpus."""
    from parquet_converter_spark.verify import KEY_COLUMNS, VALUE_COLUMNS, _digest_frame, _digests

    side = _digest_frame(ref.select(*KEY_COLUMNS, *VALUE_COLUMNS))
    tampered = ref.withColumn("text", F.concat("text", F.lit("!")))
    for frame in (side, _digests(tampered, ref)):  # one side; both in one action
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan
        assert "hashpartitioning" not in plan  # SinglePartition merge only
        assert "HashAggregate" in plan


def test_digest_flags_a_reference_only_mismatch(ref):
    """Both sides' digests come from one action; a cell changed on the
    reference side alone must still flag its column."""
    key = ref.select("conv_id", "turn_idx").orderBy("conv_id", "turn_idx").head()
    tampered = ref.withColumn(
        "role",
        F.when(
            (F.col("conv_id") == key["conv_id"]) & (F.col("turn_idx") == key["turn_idx"]),
            F.lit("tampered"),
        ).otherwise(F.col("role")),
    )
    r = verify_decode_digest(ref, tampered)
    assert not r["ok"] and r["role"] == 1
    assert r["text"] == r["tool"] == r["ts"] == 0
    assert r["decoded_rows"] == r["reference_rows"] and r["key_digest_match"]


def test_digest_raises_on_a_corrupt_decoded_block(spark, ref, tmp_path):
    """A corrupt block under ``on_error='raise'`` fails the decoded
    side's stage while the reference side's runs in the same action:
    the verify must raise, not hang on the other stage."""
    import threading

    from parquet_converter_spark import checkpoint as ckpt
    from parquet_converter_spark.decode_job import decode_table
    from parquet_converter_spark.encode_job import encode_table
    from parquet_converter_spark.tableio import ParquetDirTableIO

    io = ParquetDirTableIO(spark, str(tmp_path / "t"))
    encode_table(spark, ref, io, run_id="r1", salt_rows=512, num_buckets=4)
    pdf = io.read(ckpt.BLOCKS).toPandas()
    pdf.loc[pdf.index[0], "text_blk"] = bytes(pdf.loc[pdf.index[0], "text_blk"])[:7]
    io.overwrite(spark.createDataFrame(pdf, schema=io.read(ckpt.BLOCKS).schema), ckpt.BLOCKS,
                 compression="uncompressed")
    out = {}

    def run():
        try:
            out["result"] = verify_decode_digest(decode_table(spark, io), ref)
        except Exception as e:  # noqa: BLE001 - the failure is the expected outcome
            out["error"] = e

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(timeout=300)
    assert not t.is_alive(), "verify_decode_digest hung on a failed decode stage"
    assert "error" in out, out
