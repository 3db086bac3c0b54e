"""The read snapshot's driver path (pyarrow over the local manifest and
table_meta) must answer exactly what its distributed fallback answers,
on a table holding every manifest and directory state a reader meets."""

from __future__ import annotations

import glob
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from parquet_converter_spark import checkpoint as ckpt
from parquet_converter_spark.decode_job import decode_conversation, decode_table
from parquet_converter_spark.encode_job import encode_table
from parquet_converter_spark.localframe import local_df
from parquet_converter_spark.maintenance import compact_blocks
from parquet_converter_spark.schema import MANIFEST_SCHEMA, TRANSCRIPT_SCHEMA
from parquet_converter_spark.synth import synth_pandas
from parquet_converter_spark.tableio import ParquetDirTableIO
from parquet_converter_spark.verify import verify_decode_digest

GHOST = "ghost~1"  # an attempt that never committed


@pytest.fixture(scope="module")
def source(spark):
    pdf = synth_pandas(n_convs=24, seed=7)
    return spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA).cache()


def _encode_two_runs(spark, source, io):
    """Two runs of different geometry over two thirds of ``source``;
    returns the three thirds."""
    thirds = [source.where(F.col("turn_idx") % 3 == k) for k in range(3)]
    for k, part in enumerate(thirds[:2]):
        encode_table(spark, part, io, run_id=f"r{k}", salt_rows=512, chunk_rows=16,
                     num_buckets=4 + 4 * k, resume=False)
    return thirds


@pytest.fixture(scope="module")
def table(spark, source, tmp_path_factory):
    """done, error and retired manifest rows; orphan blocks of an
    uncommitted attempt; a compaction that retired triples; a leftover
    ``_temporary/`` directory and a ``.crc`` file in ``manifest/``; a
    legacy ``table_meta`` file without the geometry columns."""
    io = ParquetDirTableIO(spark, str(tmp_path_factory.mktemp("snap")))
    thirds = _encode_two_runs(spark, source, io)
    # a bounded compaction retires SOME triples and leaves others done
    assert compact_blocks(spark, io, chunk_rows=4096, max_groups=8)["compacted_groups"] == 8

    # a legacy-engine run: its blocks and manifest commit, but its
    # table_meta row lacks every geometry column
    legacy = ParquetDirTableIO(spark, str(tmp_path_factory.mktemp("legacy")))
    encode_table(spark, thirds[2], legacy, run_id="old", salt_rows=64, num_buckets=2)
    for name in (ckpt.BLOCKS, ckpt.MANIFEST):
        for f in glob.glob(os.path.join(legacy.path(name), "part-*.parquet")):
            shutil.copy(f, io.path(name))
    old_run = legacy.read(ckpt.TABLE_META).first()["run_id"]
    pq.write_table(
        pa.table({
            "run_id": pa.array([old_run]),
            "num_buckets": pa.array([2], pa.int32()),
            "format_version": pa.array([1], pa.int32()),
        }),
        os.path.join(io.path(ckpt.TABLE_META), "part-legacy.parquet"),
    )

    # orphan blocks: an attempt that wrote blocks but never committed,
    # plus an 'error' manifest row for one of its triples
    orphans = io.read(ckpt.BLOCKS, ckpt.BLOCKS_STORED_SCHEMA).limit(2).withColumn(
        "run_id", F.lit(GHOST)
    )
    io.append(orphans.localCheckpoint(eager=True), ckpt.BLOCKS)
    b, s = orphans.select("bucket", "salt").first()
    io.append(
        local_df(spark, [(GHOST, b, s, 0, 0, 0, "error")], MANIFEST_SCHEMA),
        ckpt.MANIFEST, compression="snappy",
    )

    # listing leftovers Spark ignores: a task attempt's _temporary/
    # output that WOULD commit the ghost triple, and a checksum file
    mdir = io.path(ckpt.MANIFEST)
    os.makedirs(os.path.join(mdir, "_temporary", "0"))
    pq.write_table(
        pa.table({
            "run_id": [GHOST], "bucket": pa.array([b], pa.int32()),
            "salt": pa.array([s], pa.int64()), "n_chunks": pa.array([1], pa.int32()),
            "n_rows": pa.array([1], pa.int64()), "encoded_bytes": pa.array([1], pa.int64()),
            "status": ["done"],
        }),
        os.path.join(mdir, "_temporary", "0", "part-00000.parquet"),
    )
    with open(os.path.join(mdir, ".part-00000.parquet.crc"), "wb") as f:
        f.write(b"not parquet")
    return io


def _fallback(monkeypatch):
    monkeypatch.setattr(ckpt, "DRIVER_MANIFEST_ROWS", 0)


def _local_relation(snap) -> bool:
    return "LocalRelation" in snap.visible._jdf.queryExecution().optimizedPlan().toString()


def _read(spark, io, source):
    snap = ckpt.ReadSnapshot(io)
    triples = {tuple(r) for r in snap.visible.collect()}
    conv = source.select("conv_id").first()[0]
    return (
        _local_relation(snap),
        triples,
        verify_decode_digest(decode_table(spark, io), source),
        sorted(tuple(r) for r in decode_conversation(spark, io, conv).collect()),
    )


def test_driver_path_equals_distributed_path(spark, source, table, monkeypatch):
    driver = _read(spark, table, source)
    # a visible set past the local-relation bound: Arrow still answers
    # the format gate and visible runs, Spark's aggregate the triples
    monkeypatch.setattr(ckpt, "DRIVER_VISIBLE_ROWS", 0)
    large = _read(spark, table, source)
    _fallback(monkeypatch)
    fallback = _read(spark, table, source)
    assert (driver[0], large[0], fallback[0]) == (True, False, False)
    assert driver[1:] == large[1:] == fallback[1:]

    triples, digest, turns = driver[1:]
    m = ckpt.read_manifest(table)
    retired = {tuple(r) for r in m.where("status = 'retired'").select(*ckpt.TRIPLE).collect()}
    runs = {t[2] for t in triples}
    assert len(retired) == 8 and not retired & triples
    assert GHOST not in runs and any(r.startswith("old") for r in runs)
    assert any(r.startswith("compact") for r in runs)
    assert digest["ok"] and digest["decoded_rows"] == source.count()
    conv = source.select("conv_id").first()[0]
    assert len(turns) == source.where(F.col("conv_id") == conv).count() > 0


@pytest.mark.parametrize("path", ["driver", "fallback"])
def test_newer_format_fails_every_read_alike(spark, source, tmp_path, monkeypatch, path):
    io = ParquetDirTableIO(spark, str(tmp_path / "t"))
    encode_table(spark, source, io, run_id="r1", salt_rows=512, num_buckets=4)
    meta = io.read(ckpt.TABLE_META).withColumn("format_version", F.lit(99))
    io.overwrite(meta.localCheckpoint(eager=True), ckpt.TABLE_META)
    if path == "fallback":
        _fallback(monkeypatch)
    with pytest.raises(ValueError, match="format_version 99") as full:
        decode_table(spark, io)
    with pytest.raises(ValueError) as point:
        decode_conversation(spark, io, source.select("conv_id").first()[0])
    assert str(point.value) == str(full.value)


def test_bounded_compaction_takes_the_fullest_groups_first(spark, source, tmp_path):
    """A ``max_groups`` window holds the qualifying groups with the most
    blocks. Here the first three qualifying groups in key order hold one
    block each, which no rewrite can shrink, so a key-order window was
    skipped whole while other groups held 10–11 blocks."""
    io = ParquetDirTableIO(spark, str(tmp_path / "t"))
    _encode_two_runs(spark, source, io)
    r = compact_blocks(spark, io, chunk_rows=4096, max_groups=3)
    assert r.get("skipped") is None, r
    assert r["compacted_groups"] == 3
    assert r["blocks_after"] < r["blocks_before"]
    assert verify_decode_digest(decode_table(spark, io), source.where(
        F.col("turn_idx") % 3 != 2))["ok"]
