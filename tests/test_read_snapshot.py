"""Every path of the read snapshot — the literal predicate, the
broadcast visible set, the distributed aggregate and the fallback that
reads no metadata with pyarrow — must answer exactly alike, on a table
holding every manifest and directory state a reader meets."""

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
from parquet_converter_spark.maintenance import compact_blocks, reclaimable_bytes
from parquet_converter_spark.schema import MANIFEST_SCHEMA, TRANSCRIPT_SCHEMA
from parquet_converter_spark.synth import synth_pandas
from parquet_converter_spark.tableio import ParquetDirTableIO
from parquet_converter_spark.verify import verify_decode_digest

GHOST = "ghost~1"  # an attempt that never committed
#: run ids a literal predicate must carry exactly
ODD_RUNS = ("it's:a\\b", "ünï码:x")

#: the constants that route a snapshot onto each visibility path
PATHS = {
    "predicate": {},
    "broadcast": {"PREDICATE_VISIBLE_ROWS": -1},
    "aggregate": {"PREDICATE_VISIBLE_ROWS": -1, "DRIVER_VISIBLE_ROWS": -1},
    "fallback": {"DRIVER_MANIFEST_ROWS": -1},
}


@pytest.fixture(scope="module")
def source(spark):
    pdf = synth_pandas(n_convs=24, seed=7)
    return spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA).cache()


def _encode_two_runs(spark, source, io, run_ids=("r0", "r1")):
    """Two runs of different geometry over two thirds of ``source``;
    returns the three thirds."""
    thirds = [source.where(F.col("turn_idx") % 3 == k) for k in range(3)]
    for k, part in enumerate(thirds[:2]):
        encode_table(spark, part, io, run_id=run_ids[k], salt_rows=512, chunk_rows=16,
                     num_buckets=4 + 4 * k, resume=False)
    return thirds


@pytest.fixture(scope="module")
def table(spark, source, tmp_path_factory):
    """done, error and retired manifest rows; orphan blocks of an
    uncommitted attempt; a compaction that retired triples; a leftover
    ``_temporary/`` directory and a ``.crc`` file in ``manifest/``; a
    legacy ``table_meta`` file without the geometry columns."""
    io = ParquetDirTableIO(spark, str(tmp_path_factory.mktemp("snap")))
    thirds = _encode_two_runs(spark, source, io, ODD_RUNS)
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


def _path(snap) -> str:
    """Which visibility path serves the reads of ``snap`` (asked of the
    analyzed plan: the optimizer drops a join with an empty relation)."""
    plan = snap.blocks()._jdf.queryExecution().analyzed().toString()
    if "Join" not in plan:
        return "predicate"
    return "broadcast" if "LocalRelation" in plan else "aggregate"


def _read(spark, io, source, conv, monkeypatch, path):
    with monkeypatch.context() as m:
        for name, value in PATHS[path].items():
            m.setattr(ckpt, name, value)
        snap = ckpt.ReadSnapshot(io)
        return (
            _path(snap),
            {tuple(r) for r in snap.visible.collect()},
            verify_decode_digest(decode_table(spark, io), source),
            sorted(tuple(r) for r in decode_conversation(spark, io, conv).collect()),
            reclaimable_bytes(io, repair=False),
        )


def _reads(spark, io, source, conv, monkeypatch) -> dict:
    reads = {p: _read(spark, io, source, conv, monkeypatch, p) for p in PATHS}
    assert {p: r[0] for p, r in reads.items()} == {
        "predicate": "predicate", "broadcast": "broadcast",
        "aggregate": "aggregate", "fallback": "aggregate",
    }
    assert all(r[1:] == reads["predicate"][1:] for r in reads.values())
    return reads["predicate"][1:]


def _jobs(spark, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup("snapshot-jobs", "snapshot-jobs")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    return len(sc.statusTracker().getJobIdsForGroup("snapshot-jobs"))


def test_driver_path_equals_distributed_path(spark, source, table, monkeypatch):
    conv = source.select("conv_id").first()[0]
    triples, digest, turns, dead = _reads(spark, table, source, conv, monkeypatch)

    m = ckpt.read_manifest(table)
    retired = {tuple(r) for r in m.where("status = 'retired'").select(*ckpt.TRIPLE).collect()}
    runs = {t[2] for t in triples}
    assert len(retired) == 8 and not retired & triples
    assert GHOST not in runs and any(r.startswith("old") for r in runs)
    assert any(r.startswith("compact") for r in runs)
    assert {r.rsplit("~", 1)[0] for r in runs} >= set(ODD_RUNS)
    assert digest["ok"] and digest["decoded_rows"] == source.count()
    assert len(turns) == source.where(F.col("conv_id") == conv).count() > 0
    assert dead > 0  # the retired triples' and the ghost attempt's blocks


def test_empty_visible_set_and_null_keys(spark, source, tmp_path, monkeypatch):
    """With every triple retired, each path reads no rows and counts
    every block as reclaimable; the predicate's blocks frame is an empty
    local relation, evaluated without a job. Beside a live run, a block
    and a 'done' manifest row with a null run_id are never visible and
    the block counts as reclaimable."""
    io = ParquetDirTableIO(spark, str(tmp_path / "t"))
    encode_table(spark, source, io, run_id="gone", salt_rows=512, num_buckets=4)
    done = ckpt.read_manifest(io).where("status = 'done'")
    io.append(ckpt.retire_rows(done).localCheckpoint(eager=True), ckpt.MANIFEST,
              compression="snappy")
    conv = source.select("conv_id").first()[0]
    every_block = io.read(ckpt.BLOCKS).agg(F.sum("blk_bytes")).first()[0]
    empty = source.limit(0)
    triples, digest, turns, dead = _reads(spark, io, empty, conv, monkeypatch)
    assert (triples, digest["ok"], digest["decoded_rows"], turns) == (set(), True, 0, [])
    assert dead == every_block
    assert _jobs(spark, lambda: ckpt.ReadSnapshot(io).blocks().collect()) == 0

    live = source.where(F.col("turn_idx") % 3 == 0)
    encode_table(spark, live, io, run_id="live", salt_rows=512, num_buckets=4, resume=False)
    nulled = io.read(ckpt.BLOCKS, ckpt.BLOCKS_STORED_SCHEMA).limit(1).withColumn(
        "run_id", F.lit(None).cast("string")
    )
    b, s, blk = nulled.select("bucket", "salt", "blk_bytes").first()
    io.append(nulled.localCheckpoint(eager=True), ckpt.BLOCKS)
    pq.write_table(
        pa.table({
            "run_id": pa.array([None], pa.string()), "bucket": pa.array([b], pa.int32()),
            "salt": pa.array([s], pa.int64()), "n_chunks": pa.array([1], pa.int32()),
            "n_rows": pa.array([1], pa.int64()), "encoded_bytes": pa.array([1], pa.int64()),
            "status": ["done"],
        }),
        os.path.join(io.path(ckpt.MANIFEST), "part-null.parquet"),
    )
    triples, digest, turns, dead = _reads(spark, io, live, conv, monkeypatch)
    assert triples and {r.split("~")[0] for _b, _s, r in triples} == {"live"}
    assert digest["ok"] and digest["decoded_rows"] == live.count()
    assert len(turns) == live.where(F.col("conv_id") == conv).count() > 0
    assert dead == every_block + blk


@pytest.mark.parametrize("path", ["driver", "fallback"])
def test_newer_format_fails_every_read_alike(spark, source, tmp_path, monkeypatch, path):
    io = ParquetDirTableIO(spark, str(tmp_path / "t"))
    encode_table(spark, source, io, run_id="r1", salt_rows=512, num_buckets=4)
    meta = io.read(ckpt.TABLE_META).withColumn("format_version", F.lit(99))
    io.overwrite(meta.localCheckpoint(eager=True), ckpt.TABLE_META)
    if path == "fallback":
        monkeypatch.setattr(ckpt, "DRIVER_MANIFEST_ROWS", 0)
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
