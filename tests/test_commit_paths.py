"""The encode commit and maintenance planning take one of two paths: on a
parquet-dir table whose root is on the driver's filesystem they read
and write metadata with pyarrow on the driver, anywhere else through
Spark. Both must leave the same tables behind.

``RemoteRootIO`` is a parquet-dir table whose root reads as off the
driver's filesystem, so every probe, commit derivation, metadata append,
snapshot, compaction plan and vacuum count takes the distributed path.
The same scenario runs on both, and the manifest, metrics and
``table_meta`` rows (attempt suffix aside), the decode digests and the
``cli report`` output must be identical.

The driver writes are atomic and keep the commit order: a stale hidden
temp file is invisible to every reader, and a compaction's done and
retired rows land in one manifest file.
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from parquet_converter_spark import checkpoint as ckpt
from parquet_converter_spark import encode_job
from parquet_converter_spark.cli import main
from parquet_converter_spark.decode_job import decode_table
from parquet_converter_spark.encode_job import encode_table
from parquet_converter_spark.localframe import arrow_rows
from parquet_converter_spark.maintenance import compact_blocks, vacuum_blocks
from parquet_converter_spark.schema import (
    MANIFEST_SCHEMA,
    METRICS_SCHEMA,
    TABLE_META_SCHEMA,
    TRANSCRIPT_SCHEMA,
)
from parquet_converter_spark.synth import synth_pandas
from parquet_converter_spark.tableio import ParquetDirTableIO
from parquet_converter_spark.verify import _digest_frame, verify_decode_digest


class RemoteRootIO(ParquetDirTableIO):
    """A parquet-dir table whose root reads as non-local."""

    def driver_root(self):
        return None


@pytest.fixture(scope="module")
def source(spark):
    pdf = synth_pandas(n_convs=20, seed=13)
    pdf.loc[pdf.index[7], "text"] = "POISON pill"
    return spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA).cache()


def _part(source, k):
    return source.where(F.col("turn_idx") % 4 == k)


def _poison(monkeypatch):
    """Make the Arrow block encoder fail on the poisoned row's group
    (resolved when the UDF is built, so the patch ships to workers)."""
    real = encode_job.encode_block_arrow

    def poisoned(arr, dtype, codec=None):
        if dtype == "str":
            import pyarrow.compute as pc

            hits = pc.match_substring(arr.cast("string"), "POISON")
            if pc.any(pc.fill_null(hits, False)).as_py():
                raise RuntimeError("simulated kernel failure")
        return real(arr, dtype, codec)

    monkeypatch.setattr(encode_job, "encode_block_arrow", poisoned)


def _scenario(spark, io_cls, root, source, monkeypatch, capsys) -> dict:
    """Every commit and maintenance step on one table; returns what each
    step reported and the tables it left, attempt suffixes stripped."""
    io = io_cls(spark, root)
    out = {}

    def summary(s):
        return {k: v for k, v in s.items() if k != "physical_run_id"}

    # a fresh encode
    out["fresh"] = summary(
        encode_table(spark, _part(source, 0), io, run_id="fresh", salt_rows=256,
                     chunk_rows=64, num_buckets=4)
    )
    # a bounded run, its resume on the recorded geometry, and a replay
    # after a commit that failed
    kw = dict(run_id="res", salt_rows=256, chunk_rows=64, resume_scope="run")
    out["res1"] = summary(encode_table(spark, _part(source, 1), io, max_groups=3, **kw))
    out["res2"] = summary(encode_table(spark, _part(source, 1), io, **kw))

    class FailCommit(io_cls):
        def append(self, df, name, compression="uncompressed"):
            if name == ckpt.MANIFEST:
                raise OSError("simulated crash at the commit point")
            super().append(df, name, compression)

    with pytest.raises(OSError, match="simulated crash"):
        encode_table(spark, _part(source, 2), FailCommit(spark, root), run_id="rep",
                     salt_rows=256, num_buckets=3, resume_scope="run")
    out["replay"] = summary(
        encode_table(spark, _part(source, 2), io, run_id="rep", salt_rows=256, num_buckets=3,
                     resume_scope="run")
    )
    # a time-clustered encode that records its span; its resume reuses it
    tb = dict(run_id="tb", salt_rows=256, chunk_rows=64, time_bucket=3600, resume_scope="run")
    out["tb1"] = summary(encode_table(spark, _part(source, 3), io, max_groups=2, **tb))
    out["tb2"] = summary(encode_table(spark, _part(source, 3), io, **tb))
    # a poisoned group commits an error row; the healed resume retries it
    with monkeypatch.context() as m:
        _poison(m)
        out["poisoned"] = summary(
            encode_table(spark, source, io, run_id="pz", salt_rows=256, num_buckets=2,
                         resume_scope="run")
        )
    assert out["poisoned"]["errors"] >= 1
    out["healed"] = summary(
        encode_table(spark, source, io, run_id="pz", salt_rows=256, num_buckets=2,
                     resume_scope="run")
    )
    out["compact"] = summary(compact_blocks(spark, io, chunk_rows=4096))
    out["compact"].pop("run_id")
    out["vacuum"] = vacuum_blocks(spark, io)

    def rows(name, schema):
        df = io.read(name, schema).withColumn("run_id", F.split("run_id", "~")[0])
        return sorted((tuple(r) for r in df.collect()), key=repr)

    out["manifest"] = rows(ckpt.MANIFEST, MANIFEST_SCHEMA)
    out["metrics"] = rows(ckpt.METRICS, METRICS_SCHEMA)
    out["table_meta"] = rows(ckpt.TABLE_META, TABLE_META_SCHEMA)
    out["digest"] = _digest_frame(decode_table(spark, io)).collect()
    capsys.readouterr()
    assert main(["report", "--out", root]) == 0
    out["report"] = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    return out


def test_driver_and_distributed_commit_paths_write_the_same_tables(
    spark, source, tmp_path, monkeypatch, capsys
):
    paths = {
        cls.__name__: _scenario(spark, cls, str(tmp_path / cls.__name__), source,
                                monkeypatch, capsys)
        for cls in (ParquetDirTableIO, RemoteRootIO)
    }
    driver, spark_path = paths["ParquetDirTableIO"], paths["RemoteRootIO"]
    for key in driver:
        assert driver[key] == spark_path[key], key
    statuses = {r[-1] for r in driver["manifest"]}
    assert statuses == {"done", "error", "retired"}
    assert driver["compact"]["compacted_groups"] > 0
    assert driver["vacuum"]["bytes_reclaimed"] > 0
    assert {r[0] for r in driver["table_meta"]} == {"fresh", "res", "rep", "tb", "pz", "compact"}
    assert any(r[6] is not None for r in driver["table_meta"])  # the recorded span
    # the four parts and the whole source, each visible once
    assert verify_decode_digest(
        decode_table(spark, ParquetDirTableIO(spark, str(tmp_path / "ParquetDirTableIO"))),
        source.unionByName(_part(source, 0)).unionByName(_part(source, 1))
        .unionByName(_part(source, 2)).unionByName(_part(source, 3)),
    )["ok"]


@pytest.mark.parametrize("io_cls", [ParquetDirTableIO, RemoteRootIO])
def test_resume_probe_answers_alike_on_both_paths(spark, tmp_path, io_cls):
    """Recorded geometry matches the logical run by prefix and every
    grouping parameter exactly (time bucket null-safe); two attempts
    that disagree give none. "Committed" counts only 'done' rows in
    scope."""
    io = io_cls(spark, str(tmp_path / "t"))
    assert ckpt.resume_probe(io, "r", None, 256, 64, None, True, True) == (None, False)
    meta = [
        ("r~1", 4, 256, 64, 1, None, None, None),
        ("r~2", 8, 256, 64, 1, 3600, None, None),
        ("r~3", 9, 256, 64, 1, 60, None, None),
        ("r~4", 10, 256, 64, 1, 60, None, None),
        ("r2~1", 32, 256, 64, 1, None, None, None),
        ("other~1", 16, 256, 64, 1, None, None, None),
    ]
    io.append(arrow_rows(meta, TABLE_META_SCHEMA), ckpt.TABLE_META, compression="snappy")
    manifest = [("r~1", 0, 0, 1, 1, 1, "done"), ("other~1", 0, 1, 0, 0, 0, "error")]
    io.append(arrow_rows(manifest, MANIFEST_SCHEMA), ckpt.MANIFEST, compression="snappy")

    def probe(run, scope, salt_rows=256, tb=None):
        return ckpt.resume_probe(io, run, scope, salt_rows, 64, tb, True, True)

    assert probe("r", None) == (4, True)
    assert probe("r", "r", tb=3600) == (8, True)
    assert probe("r", "r", tb=60) == (None, True)  # attempts disagree
    assert probe("r", "r", salt_rows=512) == (None, True)
    assert probe("r2", "r2") == (32, False)  # "r2" is not an attempt of "r"
    assert probe("other", "other") == (16, False)  # an error row commits nothing


def test_stale_hidden_temp_files_are_invisible(spark, source, tmp_path):
    """A driver append killed between its temp write and its rename
    leaves a hidden ``.``-prefixed file. Here each holds a valid parquet
    file whose rows would change every answer if read."""
    io = ParquetDirTableIO(spark, str(tmp_path / "t"))
    encode_table(spark, _part(source, 0), io, run_id="a", salt_rows=256, chunk_rows=64,
                 num_buckets=4)
    encode_table(spark, _part(source, 1), io, run_id="b", salt_rows=256, chunk_rows=64,
                 num_buckets=4, resume=False)
    b, s, a = ckpt.read_manifest(io).select("bucket", "salt", "run_id").first()
    ghost = {
        ckpt.MANIFEST: [("ghost~1", b, s, 1, 1, 1, "done"), (a, b, s, 0, 0, 0, "retired")],
        ckpt.METRICS: [("ghost~1", b, s, "text", "plain", 1)],
        ckpt.TABLE_META: [("ghost~1", 9973, 256, 64, 99, None, None, None)],
    }
    schemas = {ckpt.MANIFEST: MANIFEST_SCHEMA, ckpt.METRICS: METRICS_SCHEMA,
               ckpt.TABLE_META: TABLE_META_SCHEMA}
    before = {n: io.read(n, schemas[n]).count() for n in ghost}
    snap = ckpt.ReadSnapshot(io)
    visible = {tuple(r) for r in snap.visible.collect()}
    for name, rows in ghost.items():
        pq.write_table(
            arrow_rows(rows, schemas[name]),
            os.path.join(io.path(name), ".part-00000-stale-c000.parquet.tmp"),
        )
    # a table whose only file is a stale temp does not exist
    os.makedirs(io.path("extra"))
    pq.write_table(arrow_rows(ghost[ckpt.METRICS], METRICS_SCHEMA),
                   os.path.join(io.path("extra"), ".part-00000-x-c000.parquet.tmp"))
    assert not io.exists("extra")

    for name, schema in schemas.items():
        assert io.read(name, schema).count() == before[name]
        assert ckpt.arrow_dataset(io.root, name, schema, schema.names).count_rows() == before[name]
    snap = ckpt.ReadSnapshot(io)  # format 99 would raise; ghost would be visible
    assert {tuple(r) for r in snap.visible.collect()} == visible
    assert ckpt.resume_probe(io, "ghost", None, 256, 64, None, True, True) == (None, True)
    assert ckpt.resume_probe(io, "ghost", "ghost", 256, 64, None, True, True) == (None, False)

    c = compact_blocks(spark, io, chunk_rows=4096)
    assert c["compacted_groups"] == len(visible)  # the hidden retire row counts for nothing
    v = vacuum_blocks(spark, io)
    assert v["bytes_reclaimed"] > 0 and v["rows_kept"] == c["blocks_after"]
    expected = _part(source, 0).unionByName(_part(source, 1))
    assert verify_decode_digest(decode_table(spark, io), expected)["ok"]


def test_compaction_commits_in_one_manifest_file(spark, source, tmp_path):
    io = ParquetDirTableIO(spark, str(tmp_path / "t"))
    for k in range(2):
        encode_table(spark, _part(source, k), io, run_id=f"r{k}", salt_rows=256,
                     chunk_rows=64, num_buckets=4, resume=False)
    before = set(os.listdir(io.path(ckpt.MANIFEST)))
    c = compact_blocks(spark, io, chunk_rows=4096)
    assert c["compacted_groups"] > 0
    new = set(os.listdir(io.path(ckpt.MANIFEST))) - before
    assert len(new) == 1, new
    t = pq.read_table(os.path.join(io.path(ckpt.MANIFEST), new.pop()))
    statuses = t["status"].to_pylist()
    assert statuses.count("retired") == c["compacted_groups"]
    assert statuses.count("done") > 0
