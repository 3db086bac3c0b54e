"""Spark job budgets of the encode commit, of compaction and of reads.

``encode_table`` runs as four sequential steps (probe → row estimate →
blocks ‖ table_meta → manifest ‖ metrics); the side appends run on an
``InheritableThread``, so counting the jobs of one ``setJobGroup``
sees them too. The pinned counts fail on any added job — a re-read of
the manifest or blocks for the summary, a separate resume probe, a
parquet schema inference — and on a side append that escaped the job
group.

Every read opens one ``checkpoint.ReadSnapshot``; on a local table it
resolves the format gate, visibility and a point lookup's candidate
buckets with no Spark job and hands visibility to the blocks scan as a
literal predicate, so a read's budget is its sink's own jobs."""

from __future__ import annotations

import threading

import pyspark.sql.types as T
import pytest

from parquet_converter_spark import checkpoint as ckpt
from parquet_converter_spark.decode_job import (
    decode_conversation,
    decode_table,
    decode_time_slice,
)
from parquet_converter_spark.encode_job import encode_table
from parquet_converter_spark.localframe import empty_df
from parquet_converter_spark.maintenance import compact_blocks
from parquet_converter_spark.schema import (
    BLOCKS_STORED_SCHEMA,
    MANIFEST_SCHEMA,
    TRANSCRIPT_SCHEMA,
)
from parquet_converter_spark.synth import synth_pandas
from parquet_converter_spark.tableio import ParquetDirTableIO
from parquet_converter_spark.verify import verify_decode_digest

#: SQL executions per warm append: one per step-1/2 collect and per append
WARM_APPEND_EXECUTIONS = 6
#: probe 2 + row estimate 2 + blocks 2 + table_meta 1 + manifest 2 + metrics 2
WARM_APPEND_JOBS = 11
#: pinned visible-group stats 2 (visibility is the read snapshot's
#: literal predicate, no job) + their counts 2 + the rewrite's encode,
#: which has neither probe nor row estimate (blocks 3 + table_meta 1 +
#: manifest 2 + metrics 2); no error probe, no blocks_after re-read
COMPACT_JOBS = 12


def _jobs(spark, group: str, fn):
    """(fn(), Spark jobs of ``group``, SQL executions) for one call."""
    sc = spark.sparkContext
    sql = spark._jsparkSession.sharedState().statusStore()  # noqa: SLF001
    execs = sql.executionsCount()
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    return (
        out,
        len(sc.statusTracker().getJobIdsForGroup(group)),
        sql.executionsCount() - execs,
    )


@pytest.fixture(scope="module")
def batches(spark, tmp_path_factory):
    """Two parquet batches of distinct conversations (parquet input:
    the row estimate is the footer-metadata count, as for a real
    append)."""
    root = tmp_path_factory.mktemp("jobs_in")
    paths = []
    for b in range(2):
        pdf = synth_pandas(n_convs=30, seed=11 + b)
        pdf["conv_id"] = f"b{b}_" + pdf["conv_id"]
        p = str(root / f"b{b}")
        spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA).write.parquet(p)
        paths.append(p)
    return [spark.read.schema(TRANSCRIPT_SCHEMA).parquet(p) for p in paths]


def test_warm_append_and_compaction_job_budget(spark, batches, tmp_path_factory):
    io = ParquetDirTableIO(spark, str(tmp_path_factory.mktemp("jobs")))
    kw = dict(salt_rows=256, chunk_rows=256, resume_scope="run")
    first = encode_table(spark, batches[0], io, run_id="b0", **kw)

    s, jobs, execs = _jobs(
        spark, "warm-append", lambda: encode_table(spark, batches[1], io, run_id="b1", **kw)
    )
    assert s["rows"] == batches[1].count() and s["errors"] == 0
    assert (jobs, execs) == (WARM_APPEND_JOBS, WARM_APPEND_EXECUTIONS)

    c, jobs, _ = _jobs(spark, "compact", lambda: compact_blocks(spark, io, chunk_rows=65_536))
    assert c["compacted_groups"] > 0
    assert c["rows"] == first["rows"] + s["rows"]
    assert c["blocks_after"] < c["blocks_before"]
    assert jobs == COMPACT_JOBS


def test_zero_group_rerun_observation_returns(spark, batches, tmp_path_factory):
    """The benign rerun of a fully committed run writes EMPTY blocks and
    manifest frames; the observed commit counters must still arrive
    (Observation.get blocks until the observed write finishes — an
    observation the write never reports would hang encode_table)."""
    io = ParquetDirTableIO(spark, str(tmp_path_factory.mktemp("rerun")))
    encode_table(spark, batches[0], io, run_id="r", salt_rows=256)
    result = {}

    def rerun():
        result["s"] = encode_table(spark, batches[0], io, run_id="r", salt_rows=256)

    t = threading.Thread(target=rerun, daemon=True)
    t.start()
    t.join(timeout=300)
    assert not t.is_alive(), "encode_table hung on an empty observed write"
    s = result["s"]
    assert (s["groups"], s["errors"], s["rows"], s["encoded_bytes"], s["chunks"]) == (
        0, 0, 0, 0, 0
    )


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def test_read_path_job_budget(spark, batches, tmp_path_factory):
    """Jobs per read on a local table with two runs under two
    bucketings: the snapshot itself runs none; a full or projected
    decode to a no-op sink, a time slice and a point lookup run 1 each
    (the sink's; a broadcast visible set added one, and before the
    snapshot a format-version aggregate and a two-distinct anti-join
    added 4 more); the digest verify is one SQL execution of 3 jobs
    (each side's partial aggregate and the result)."""
    io = ParquetDirTableIO(spark, str(tmp_path_factory.mktemp("reads")))
    encode_table(spark, batches[0], io, run_id="a", salt_rows=256, num_buckets=4)
    encode_table(spark, batches[1], io, run_id="b", salt_rows=256, num_buckets=8)
    row = batches[1].select("conv_id", "ts").first()

    def jobs(name, fn) -> int:
        return _jobs(spark, f"read-{name}", fn)[1]

    assert jobs("snapshot", lambda: ckpt.ReadSnapshot(io)) == 0
    assert jobs("full", lambda: _noop(decode_table(spark, io))) == 1
    proj = ["conv_id", "turn_idx"]
    assert jobs("projected", lambda: _noop(decode_table(spark, io, columns=proj))) == 1
    assert jobs("slice", lambda: _noop(decode_time_slice(spark, io, row["ts"], row["ts"]))) <= 1
    assert jobs("point", lambda: _noop(decode_conversation(spark, io, row["conv_id"]))) <= 1
    expected = decode_table(spark, io).localCheckpoint(eager=True)
    r, n_jobs, execs = _jobs(
        spark, "read-verify", lambda: verify_decode_digest(decode_table(spark, io), expected)
    )
    assert r["ok"], r
    assert (n_jobs, execs) == (3, 1)


@pytest.mark.parametrize(
    "schema",
    [
        MANIFEST_SCHEMA,
        BLOCKS_STORED_SCHEMA,
        T.StructType([T.StructField("k", T.LongType(), False, {"comment": "kept"})]),
    ],
    ids=["manifest", "blocks", "metadata"],
)
def test_empty_df_keeps_schema_and_runs_no_job(spark, schema):
    """The read snapshot returns ``empty_df`` for absent tables: it must
    carry the pinned schema exactly (nullability and field metadata)
    and stay a local relation whose evaluation schedules no job."""
    df = empty_df(spark, schema)
    assert df.schema == schema
    rows, jobs, _ = _jobs(spark, "empty-df", df.collect)
    assert (rows, jobs) == ([], 0)
