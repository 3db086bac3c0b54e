"""Lifecycle maintenance: compaction, zone-map retention, vacuum.

The invariants under test are the commit protocol's: every rewrite
swaps old→new triples at ONE manifest append (readers never see both),
retire-only drops are proven by zone maps without reading data, and
vacuum only removes rows no reader can see.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from parquet_converter_spark import checkpoint as ckpt
from parquet_converter_spark.decode_job import decode_table
from parquet_converter_spark.encode_job import encode_table
from parquet_converter_spark.maintenance import (
    compact_blocks,
    reclaimable_bytes,
    retention_sweep,
    vacuum_blocks,
)
from parquet_converter_spark.schema import TRANSCRIPT_SCHEMA
from parquet_converter_spark.synth import synth_pandas
from parquet_converter_spark.tableio import ParquetDirTableIO
from parquet_converter_spark.verify import verify_decode


@pytest.fixture(scope="module")
def transcripts(spark):
    pdf = synth_pandas(n_convs=40, seed=42)
    return spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA).cache()


def _blocks_count(io):
    return ckpt.committed_blocks(io).count()


def test_compact_rewrites_small_blocks_bit_identical(spark, transcripts, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("cmp"))
    io = ParquetDirTableIO(spark, out)
    # tiny chunks → many under-filled blocks (the streaming-epoch shape)
    encode_table(spark, transcripts, io, run_id="r1", salt_rows=256,
                 num_buckets=8, chunk_rows=256)
    before = _blocks_count(io)
    n = transcripts.count()

    result = compact_blocks(spark, io, min_fill=0.5, chunk_rows=65_536, salt_rows=65_536)
    assert result["compacted_groups"] > 0
    assert result["rows"] == n
    assert result["blocks_after"] < result["blocks_before"] == before

    after = _blocks_count(io)
    assert after == result["blocks_after"] < before
    # the swap is invisible to readers: decode is still bit-identical
    assert verify_decode(decode_table(spark, io), transcripts)["ok"]

    # retired rows hold reclaimable bytes until vacuum
    freed = reclaimable_bytes(io)
    assert freed > 0
    v = vacuum_blocks(spark, io)
    assert v["bytes_reclaimed"] == freed
    assert reclaimable_bytes(io) == 0
    assert verify_decode(decode_table(spark, io), transcripts)["ok"]

    # resume semantics survive maintenance: the source run is still
    # "completed", so a rerun appends nothing
    s = encode_table(spark, transcripts, io, run_id="r1", salt_rows=256,
                     num_buckets=8, chunk_rows=256)
    assert s["groups"] == 0


def test_compact_noop_when_blocks_full_enough(spark, tmp_path_factory):
    # uniform conversations: every block is exactly chunk_rows full, so
    # nothing sits under the fill threshold
    rows = [
        (f"c{c}", i, "user", f"t{c}_{i}", None, None)
        for c in range(4)
        for i in range(512)
    ]
    df = spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA)
    out = str(tmp_path_factory.mktemp("cmpn"))
    io = ParquetDirTableIO(spark, out)
    encode_table(spark, df, io, run_id="r1", salt_rows=512, num_buckets=4, chunk_rows=256)
    result = compact_blocks(spark, io, min_fill=0.5, chunk_rows=256)
    assert result["compacted_groups"] == 0 and result["run_id"] is None
    assert reclaimable_bytes(io) == 0


def test_retention_sweep_time_bucketed_uses_zone_map_proofs(spark, transcripts, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("ret"))
    io = ParquetDirTableIO(spark, out)
    # time-clustered: most groups are provably old/new; few straddle
    encode_table(spark, transcripts, io, run_id="r1", salt_rows=512,
                 num_buckets=4, chunk_rows=512, time_bucket=900)
    stats = ckpt.committed_blocks(io).agg(
        F.min("ts_min").alias("lo"), F.max("ts_max").alias("hi")
    ).collect()[0]
    cutoff = stats["lo"] + (stats["hi"] - stats["lo"]) / 2

    result = retention_sweep(spark, io, cutoff, salt_rows=512, chunk_rows=512,
                             time_bucket=900)
    # zone maps must prove SOME groups entirely old (never read)
    assert result["retired_groups"] > 0
    assert result["rewritten_groups"] > 0

    expected = transcripts.where((F.col("ts") >= F.lit(cutoff)) | F.col("ts").isNull())
    got = decode_table(spark, io)
    assert verify_decode(got, expected)["ok"]

    # manifest lineage: retirement rows exist, originals still present
    m = ckpt.read_manifest(io)
    assert m.where(F.col("status") == "retired").count() > 0
    assert m.where(F.col("status") == "done").count() > 0
    assert reclaimable_bytes(io) > 0
    vacuum_blocks(spark, io)
    assert verify_decode(decode_table(spark, io), expected)["ok"]


def test_retention_sweep_unclustered_falls_back_to_rewrites(spark, transcripts, tmp_path_factory):
    """Hash-bucket batch tables have timeline-wide zone maps: nothing is
    provably old, so retention degrades to rewriting every touching
    group — slower, still exact."""
    out = str(tmp_path_factory.mktemp("retu"))
    io = ParquetDirTableIO(spark, out)
    encode_table(spark, transcripts, io, run_id="r1", salt_rows=512,
                 num_buckets=4, chunk_rows=512)
    stats = ckpt.committed_blocks(io).agg(
        F.min("ts_min").alias("lo"), F.max("ts_max").alias("hi")
    ).collect()[0]
    cutoff = stats["lo"] + (stats["hi"] - stats["lo"]) / 2

    result = retention_sweep(spark, io, cutoff, salt_rows=512, chunk_rows=512)
    assert result["retired_groups"] == 0
    assert result["rewritten_groups"] > 0
    expected = transcripts.where((F.col("ts") >= F.lit(cutoff)) | F.col("ts").isNull())
    assert verify_decode(decode_table(spark, io), expected)["ok"]


def test_retention_keeps_null_ts_rows(spark, tmp_path_factory):
    """Null ts can't be proven old — the conservative contract keeps
    those rows through a sweep."""
    from datetime import datetime

    rows = [("c0", i, "user", f"t{i}", None, None) for i in range(10)]
    rows += [("c1", i, "user", f"old{i}", None, datetime(2020, 1, 1, 0, 0, i)) for i in range(10)]
    df = spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA)
    out = str(tmp_path_factory.mktemp("retn"))
    io = ParquetDirTableIO(spark, out)
    encode_table(spark, df, io, run_id="r1", salt_rows=512, num_buckets=2)

    result = retention_sweep(spark, io, datetime(2023, 1, 1))
    got = decode_table(spark, io)
    assert got.count() == 10
    assert got.where(F.col("ts").isNull()).count() == 10
    assert result["retired_groups"] + result["rewritten_groups"] > 0


class _FailManifestIO(ParquetDirTableIO):
    """Raises on the manifest append — simulates a crash between the
    blocks append and the commit."""

    def append(self, df, name, compression="uncompressed"):
        if name == ckpt.MANIFEST:
            raise RuntimeError("simulated crash before manifest commit")
        super().append(df, name, compression)


def test_compact_crash_before_commit_leaves_readers_untouched(spark, transcripts, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("cmpc"))
    io = ParquetDirTableIO(spark, out)
    encode_table(spark, transcripts, io, run_id="r1", salt_rows=256,
                 num_buckets=4, chunk_rows=256)
    before = _blocks_count(io)

    crashy = _FailManifestIO(spark, out)
    with pytest.raises(RuntimeError, match="simulated crash"):
        compact_blocks(spark, crashy, min_fill=0.5, chunk_rows=65_536)

    # no retire, no new visibility: readers see exactly the old table
    assert _blocks_count(io) == before
    assert verify_decode(decode_table(spark, io), transcripts)["ok"]
    # the aborted attempt's orphan blocks are reclaimable garbage
    assert reclaimable_bytes(io) > 0
    vacuum_blocks(spark, io)
    assert reclaimable_bytes(io) == 0
    assert verify_decode(decode_table(spark, io), transcripts)["ok"]


def test_retention_legacy_stats_never_prove_old(spark, transcripts, tmp_path_factory):
    """Blocks with null ts_nulls (pre-statistic tables) must classify as
    rewrite, never retire-outright — unknown can't prove anything."""
    from datetime import datetime

    out = str(tmp_path_factory.mktemp("retl"))
    io = ParquetDirTableIO(spark, out)
    encode_table(spark, transcripts, io, run_id="r1", salt_rows=512, num_buckets=4)
    # simulate a legacy table: strip the ts_nulls statistic (via Spark,
    # so the parquet logical types stay exactly what the engine writes)
    import os
    import shutil

    legacy = spark.read.parquet(f"{out}/blocks").drop("ts_nulls")
    legacy.write.mode("overwrite").option("compression", "uncompressed").parquet(
        f"{out}/blocks__legacy"
    )
    shutil.rmtree(f"{out}/blocks")
    os.rename(f"{out}/blocks__legacy", f"{out}/blocks")

    cutoff = datetime(2099, 1, 1)  # every timestamped row is older than this
    result = retention_sweep(spark, io, cutoff, salt_rows=512, chunk_rows=512)
    assert result["retired_groups"] == 0       # nothing provable
    assert result["rewritten_groups"] > 0      # everything rewritten
    # every timestamped row drops; the fixture's few null-ts rows are
    # kept (null can't be proven old — the conservative contract)
    got = decode_table(spark, io)
    assert got.where(F.col("ts").isNotNull()).count() == 0
    n_null = transcripts.where(F.col("ts").isNull()).count()
    assert got.count() == n_null


def test_maintenance_aborts_whole_commit_on_encode_error(spark, transcripts, tmp_path_factory):
    """If any group's re-encode errors, NOTHING commits: no retire rows
    (old data stays visible), new blocks stay orphaned. The alternative
    — retiring sources whose replacement errored — is data loss."""
    out = str(tmp_path_factory.mktemp("cmpe"))
    io = ParquetDirTableIO(spark, out)
    encode_table(spark, transcripts, io, run_id="r1", salt_rows=256,
                 num_buckets=4, chunk_rows=256)
    manifest_before = ckpt.read_manifest(io).count()

    with pytest.raises(RuntimeError, match="commit aborted"):
        # a bogus codec makes every group's re-encode raise in the UDF
        compact_blocks(spark, io, min_fill=0.5, chunk_rows=65_536, codec="no_such_codec")

    m = ckpt.read_manifest(io)
    assert m.count() == manifest_before            # no manifest rows landed
    assert m.where(F.col("status") == "retired").count() == 0
    assert verify_decode(decode_table(spark, io), transcripts)["ok"]
    # the aborted attempt's orphans (0-byte error markers here) are
    # still physical rows; vacuum removes them by ROW, not byte count
    def orphan_rows():
        from parquet_converter_spark.schema import BLOCKS_STORED_SCHEMA

        return (
            io.read(ckpt.BLOCKS, BLOCKS_STORED_SCHEMA)
            .select("bucket", "salt", "run_id")
            .join(ckpt.visible_triples(io), ["bucket", "salt", "run_id"], "left_anti")
            .count()
        )

    assert orphan_rows() > 0
    vacuum_blocks(spark, io)
    assert orphan_rows() == 0
    assert verify_decode(decode_table(spark, io), transcripts)["ok"]


def test_vacuum_crash_recovery_all_states(spark, transcripts, tmp_path_factory):
    """Every crash point of the vacuum swap must repair: roll forward
    off a complete temp dir, roll back off the saved old dir, and the
    blocks reader must refuse to read the crashed state as empty."""
    import os
    import shutil

    from parquet_converter_spark.maintenance import recover_vacuum

    out = str(tmp_path_factory.mktemp("vcr"))
    io = ParquetDirTableIO(spark, out)
    encode_table(spark, transcripts, io, run_id="r1", salt_rows=512, num_buckets=4)
    blocks_dir = io.path(ckpt.BLOCKS)
    n = _blocks_count(io)

    # --- crash BETWEEN the renames, temp complete → roll FORWARD
    shutil.copytree(blocks_dir, blocks_dir + "__vacuum")
    os.rename(blocks_dir, blocks_dir + "__old")
    with pytest.raises(RuntimeError, match="vacuum crashed mid-swap"):
        ckpt.committed_blocks(io).count()          # reader guard, not silent empty
    assert recover_vacuum(io) == "forward"
    assert _blocks_count(io) == n

    # --- crash after rename1 with INCOMPLETE temp → roll BACK
    shutil.copytree(blocks_dir, blocks_dir + "__vacuum")
    os.remove(os.path.join(blocks_dir + "__vacuum", "_SUCCESS"))
    os.rename(blocks_dir, blocks_dir + "__old")
    assert recover_vacuum(io) == "back"
    assert _blocks_count(io) == n

    # --- crash after rename2 (old dir remnant) → cleanup
    shutil.copytree(blocks_dir, blocks_dir + "__old")
    assert recover_vacuum(io) == "cleanup"
    assert not os.path.isdir(blocks_dir + "__old")
    assert _blocks_count(io) == n
    assert verify_decode(decode_table(spark, io), transcripts)["ok"]


def test_compact_time_bucketed_converges(spark, transcripts, tmp_path_factory):
    """Compacting a time-bucketed table with time_bucket set must plan
    window-aware buckets — a second compact is a no-op, not an endless
    re-shatter."""
    out = str(tmp_path_factory.mktemp("cmptb"))
    io = ParquetDirTableIO(spark, out)
    encode_table(spark, transcripts, io, run_id="r1", salt_rows=64,
                 num_buckets=8, chunk_rows=64, time_bucket=900)
    r1 = compact_blocks(spark, io, min_fill=0.5, chunk_rows=1024,
                        salt_rows=1024, time_bucket=900)
    assert r1["compacted_groups"] > 0
    assert r1["blocks_after"] < r1["blocks_before"]
    r2 = compact_blocks(spark, io, min_fill=0.5, chunk_rows=1024,
                        salt_rows=1024, time_bucket=900)
    # groups now sit at the bucket×window floor: the guard reports the
    # skip instead of rewriting the same bytes forever
    assert r2["compacted_groups"] == 0 and "skipped" in r2, r2
    assert verify_decode(decode_table(spark, io), transcripts)["ok"]


def test_compact_collapses_same_key_epoch_triples(spark, tmp_path_factory):
    """Three disjoint epochs of the same conversations write three
    triples per (bucket, salt) key. The a-priori nb×windows floor
    (≥2×parallelism = 64 here) exceeds the handful of current blocks
    and would wrongly report 'cannot reduce'; the exact occupied-key
    guard must let the rewrite collapse the epochs."""
    rows = [
        (f"c{c}", i, "user", f"text {c} {i}", None, None)
        for c in range(4)
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA)
    out = str(tmp_path_factory.mktemp("cmpep"))
    io = ParquetDirTableIO(spark, out)
    for k in range(3):
        epoch = df.where(
            (F.col("turn_idx") >= k * 100) & (F.col("turn_idx") < (k + 1) * 100)
        )
        encode_table(spark, epoch, io, run_id=f"e{k}", salt_rows=512,
                     num_buckets=2, chunk_rows=512, resume=False)
    before = _blocks_count(io)
    assert before >= 3  # ≥3 same-key triples exist

    r = compact_blocks(spark, io, min_fill=0.5, chunk_rows=65_536, salt_rows=65_536)
    assert r.get("skipped") is None, r
    assert r["compacted_groups"] > 0
    assert r["blocks_after"] < r["blocks_before"] == before
    assert verify_decode(decode_table(spark, io), df)["ok"]


def test_bounded_compact_two_steps_converge_to_one_shot_state(
    spark, transcripts, tmp_path_factory
):
    """max_groups bounds one maintenance window; iterating windows must
    converge (compacted_groups → 0) with each step's commit independent,
    and the final table decodes bit-identical to the source — the same
    end state an unbounded compact reaches."""
    out = str(tmp_path_factory.mktemp("cmpw"))
    io = ParquetDirTableIO(spark, out)
    encode_table(spark, transcripts, io, run_id="r1", salt_rows=256,
                 num_buckets=8, chunk_rows=256)
    before = _blocks_count(io)

    steps = 0
    while steps < 20:
        r = compact_blocks(spark, io, min_fill=0.5, chunk_rows=65_536,
                           salt_rows=65_536, max_groups=3)
        steps += 1
        if r["compacted_groups"] == 0:
            break
        assert r["compacted_groups"] <= 3
        # every intermediate state is a committed, readable table
        assert verify_decode(decode_table(spark, io), transcripts)["ok"]
    assert steps < 20, "bounded compaction failed to converge"
    assert _blocks_count(io) < before
    assert verify_decode(decode_table(spark, io), transcripts)["ok"]


def test_bounded_retention_converges(spark, transcripts, tmp_path_factory):
    """max_groups-bounded retention sweeps: repeated calls drain the
    straddle set and the final content equals an unbounded sweep's."""
    out = str(tmp_path_factory.mktemp("retw"))
    io = ParquetDirTableIO(spark, out)
    encode_table(spark, transcripts, io, run_id="r1", salt_rows=512,
                 num_buckets=4, chunk_rows=512, time_bucket=900)
    stats = ckpt.committed_blocks(io).agg(
        F.min("ts_min").alias("lo"), F.max("ts_max").alias("hi")
    ).collect()[0]
    cutoff = stats["lo"] + (stats["hi"] - stats["lo"]) / 2

    total_rewritten = 0
    steps = 0
    while steps < 20:
        r = retention_sweep(spark, io, cutoff, salt_rows=512, chunk_rows=512,
                            time_bucket=900, max_groups=2)
        steps += 1
        total_rewritten += r["rewritten_groups"]
        if r["rewritten_groups"] == 0:
            break
        assert r["rewritten_groups"] <= 2
    assert steps < 20, "bounded retention failed to converge"
    assert total_rewritten > 0
    expected = transcripts.where((F.col("ts") >= F.lit(cutoff)) | F.col("ts").isNull())
    assert verify_decode(decode_table(spark, io), expected)["ok"]


def test_reclaimable_bytes_no_repair_leaves_remnants(spark, transcripts, tmp_path_factory):
    """Read-only callers (CLI report) must be able to measure
    maintenance debt WITHOUT the crashed-vacuum auto-repair side
    effect; vacuum_remnants surfaces the state instead."""
    import os
    import shutil

    from parquet_converter_spark.maintenance import vacuum_remnants

    out = str(tmp_path_factory.mktemp("ro"))
    io = ParquetDirTableIO(spark, out)
    encode_table(spark, transcripts, io, run_id="r1", salt_rows=512, num_buckets=4)
    blocks_dir = io.path(ckpt.BLOCKS)
    # post-swap remnant (the 'cleanup' recovery case)
    shutil.copytree(blocks_dir, blocks_dir + "__old")

    assert vacuum_remnants(io)
    assert reclaimable_bytes(io, repair=False) == 0
    assert os.path.isdir(blocks_dir + "__old")  # untouched — no repair

    # the maintenance entry point still repairs
    assert reclaimable_bytes(io) == 0
    assert not os.path.isdir(blocks_dir + "__old")
    assert not vacuum_remnants(io)


def test_window_preserving_compact_keeps_zone_maps_tight(spark, transcripts, tmp_path_factory):
    """The r5 pairing: fine-grained time-clustered encode (the hourly
    ingest shape) then a WINDOW-PRESERVING compaction at a coarser
    width — blocks grow toward full size while every block still spans
    at most the compaction window, so time-slice pruning keeps working
    at the coarser granularity. Bit-identity must survive the swap."""
    out = str(tmp_path_factory.mktemp("wpc"))
    io = ParquetDirTableIO(spark, out)
    # 5-minute windows ≈ the shattered fine-grained shape
    encode_table(spark, transcripts, io, run_id="r1", salt_rows=4096,
                 time_bucket=300)
    before = _blocks_count(io)

    r = compact_blocks(spark, io, min_fill=0.9, chunk_rows=65_536,
                       salt_rows=4096, time_bucket=900)
    assert r["compacted_groups"] > 0
    assert r["blocks_after"] < r["blocks_before"]

    blocks = ckpt.committed_blocks(io)
    # window preservation: no block's ts span exceeds the compact window
    too_wide = blocks.where(
        F.col("ts_min").isNotNull()
        & ((F.col("ts_max").cast("long") - F.col("ts_min").cast("long")) > 900)
    ).count()
    assert too_wide == 0
    assert _blocks_count(io) < before
    assert verify_decode(decode_table(spark, io), transcripts)["ok"]


def test_vacuum_of_a_fully_retired_table_returns(spark, transcripts, tmp_path_factory):
    """With every triple retired the kept-rows rewrite is an empty
    relation; the Observation that counts its rows must still arrive
    (``Observation.get`` blocks until the observed write reports)."""
    import threading

    io = ParquetDirTableIO(spark, str(tmp_path_factory.mktemp("vacall")))
    encode_table(spark, transcripts, io, run_id="g", salt_rows=512, num_buckets=2)
    done = ckpt.read_manifest(io).where("status = 'done'")
    io.append(ckpt.retire_rows(done).localCheckpoint(eager=True), ckpt.MANIFEST,
              compression="snappy")
    result = {}
    t = threading.Thread(target=lambda: result.update(v=vacuum_blocks(spark, io)), daemon=True)
    t.start()
    t.join(timeout=300)
    assert not t.is_alive(), "vacuum_blocks hung on an empty observed write"
    assert result["v"]["rows_kept"] == 0 and result["v"]["bytes_reclaimed"] > 0
    assert decode_table(spark, io).count() == 0
