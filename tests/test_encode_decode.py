"""End-to-end engine tests: encode → decode bit-identical (north_rule),
encoded size ≤ reference snappy-parquet footprint, skew/salting."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from parquet_converter_spark import checkpoint as ckpt
from parquet_converter_spark.decode_job import decode_table
from parquet_converter_spark.encode_job import encode_table
from parquet_converter_spark.reference import dir_parquet_bytes, write_reference_parquet
from parquet_converter_spark.schema import TRANSCRIPT_SCHEMA
from parquet_converter_spark.synth import synth_pandas
from parquet_converter_spark.tableio import ParquetDirTableIO
from parquet_converter_spark.verify import verify_decode, verify_decode_digest


@pytest.fixture(scope="module")
def transcripts(spark):
    pdf = synth_pandas(n_convs=40, seed=42)
    return spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA).cache()


def test_encode_decode_bit_identical(spark, transcripts, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("enc"))
    io = ParquetDirTableIO(spark, out)
    summary = encode_table(
        spark, transcripts, io, run_id="r1", salt_rows=512, num_buckets=8
    )
    assert summary["rows"] == transcripts.count()
    decoded = decode_table(spark, io)
    result = verify_decode(decoded, transcripts)
    assert result["ok"], result


def test_zone_map_time_slice_prunes_blocks(spark, transcripts, tmp_path_factory):
    """Per-block ts/conv zone maps: a narrow time-window decode must
    (a) return exactly the rows a full-decode + filter would, and
    (b) touch strictly fewer blocks than the table holds."""
    from parquet_converter_spark.decode_job import decode_time_slice

    out = str(tmp_path_factory.mktemp("zm"))
    io = ParquetDirTableIO(spark, out)
    # small chunks → many blocks → zone maps have something to skip
    encode_table(
        spark, transcripts, io, run_id="r1", salt_rows=256,
        num_buckets=8, chunk_rows=256,
    )
    blocks = ckpt.committed_blocks(io)
    total_blocks = blocks.count()
    stats = blocks.agg(
        F.min("ts_min").alias("lo"), F.max("ts_max").alias("hi"),
        F.sum(F.col("ts_min").isNull().cast("int")).alias("null_stats"),
    ).collect()[0]
    assert stats["null_stats"] == 0  # synth ts never null → stats everywhere
    span = stats["hi"] - stats["lo"]
    lo = stats["lo"] + span * 0.40
    hi = stats["lo"] + span * 0.45  # a 5% window

    got = decode_time_slice(spark, io, lo, hi).orderBy("conv_id", "turn_idx")
    want = (
        decode_table(spark, io)
        .where((F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi)))
        .orderBy("conv_id", "turn_idx")
    )
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]
    assert got.count() > 0  # the window is non-trivial

    pruned = blocks.where(
        (F.col("ts_min") <= F.lit(hi)) & (F.col("ts_max") >= F.lit(lo))
    ).count()
    assert pruned < total_blocks, (pruned, total_blocks)

    # conv zone maps exist and are ordered (the sort guarantees it)
    bad = blocks.where(F.col("conv_min") > F.col("conv_max")).count()
    assert bad == 0

    # column projection composes with the slice (ts auto-added then dropped)
    proj = decode_time_slice(spark, io, lo, hi, columns=["conv_id", "role"])
    assert proj.columns == ["conv_id", "role"]
    assert proj.count() == got.count()

    # conv zone maps prune the point lookup too: a single conv_id's
    # blocks are a strict subset, and the decoded rows are exact
    cid = transcripts.select("conv_id").orderBy("conv_id").head()["conv_id"]
    conv_blocks = blocks.where(
        (F.col("conv_min") <= F.lit(cid)) & (F.col("conv_max") >= F.lit(cid))
    ).count()
    assert 0 < conv_blocks < total_blocks
    got_conv = decode_table(spark, io, conv_range=(cid, cid)).where(
        F.col("conv_id") == cid
    )
    want_conv = transcripts.where(F.col("conv_id") == cid)
    assert got_conv.count() == want_conv.count() > 0


def test_zone_maps_identical_on_both_udf_paths(spark, transcripts, tmp_path_factory):
    """Arrow and pandas encode paths must write the same zone maps."""
    base = tmp_path_factory.mktemp("zmp")
    stats = {}
    for label, arrow in (("arrow", True), ("pandas", False)):
        io = ParquetDirTableIO(spark, str(base / label))
        encode_table(
            spark, transcripts, io, run_id="r", salt_rows=512,
            num_buckets=4, arrow_native=arrow,
        )
        rows = (
            ckpt.committed_blocks(io)
            .select("bucket", "salt", "chunk", "ts_min", "ts_max", "conv_min", "conv_max")
            .orderBy("bucket", "salt", "chunk")
            .collect()
        )
        stats[label] = [tuple(r) for r in rows]
    assert stats["arrow"] == stats["pandas"]


def test_encoded_size_beats_reference_footprint(spark, transcripts, tmp_path_factory):
    base = tmp_path_factory.mktemp("size")
    io = ParquetDirTableIO(spark, str(base / "enc"))
    summary = encode_table(
        spark, transcripts, io, run_id="r1", salt_rows=4096, num_buckets=4
    )
    ref_bytes = write_reference_parquet(transcripts, str(base / "ref"))
    assert summary["encoded_bytes"] <= ref_bytes, (summary["encoded_bytes"], ref_bytes)
    # the physical blocks table (uncompressed parquet wrapper) should
    # also be in the same ballpark — assert within 1.3× of the logical bytes
    phys = dir_parquet_bytes(str(base / "enc" / "blocks"))
    assert phys < ref_bytes * 1.3, (phys, ref_bytes)


def test_salting_splits_long_conversation(spark, transcripts, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("salt"))
    io = ParquetDirTableIO(spark, out)
    encode_table(spark, transcripts, io, run_id="r1", salt_rows=256, num_buckets=8)
    manifest = ckpt.read_manifest(io)
    # the guaranteed-long conversation (conv_00000000) spans many salts
    n_salts = manifest.select("salt").distinct().count()
    assert n_salts > 1
    # no group exceeds its salt bound by more than the co-bucketed shorts
    max_rows = manifest.agg(F.max("n_rows")).collect()[0][0]
    assert max_rows <= 256 * 8  # salt_rows × slack for co-hashed convs


def test_decode_preserves_nulls_and_edge_text(spark, transcripts, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("edge"))
    io = ParquetDirTableIO(spark, out)
    encode_table(spark, transcripts, io, run_id="r1", salt_rows=1024, num_buckets=4)
    decoded = decode_table(spark, io)
    # per-turn text equality under stable (conv_id, turn_idx) ordering
    ref_rows = (
        transcripts.orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "text")
        .limit(200)
        .collect()
    )
    dec_rows = (
        decoded.orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "text")
        .limit(200)
        .collect()
    )
    assert ref_rows == dec_rows
    # null counts match per column
    for c in ["role", "text", "tool", "ts"]:
        rn = transcripts.where(F.col(c).isNull()).count()
        dn = decoded.where(F.col(c).isNull()).count()
        assert rn == dn, c


def test_multi_chunk_groups_decode_exactly(spark, transcripts, tmp_path_factory):
    """chunk_rows < group size → several block rows per group; chunk
    boundaries must be invisible to decode."""
    out = str(tmp_path_factory.mktemp("chunks"))
    io = ParquetDirTableIO(spark, out)
    encode_table(
        spark, transcripts, io, run_id="r1",
        salt_rows=4096, num_buckets=4, chunk_rows=256,
    )
    blocks = io.read("blocks")
    multi = blocks.groupBy("bucket", "salt").count().where(F.col("count") > 1).count()
    assert multi > 0, "test did not exercise multi-chunk groups"
    result = verify_decode(decode_table(spark, io), transcripts)
    assert result["ok"], result


def test_selective_decode_by_bucket(spark, transcripts, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sel"))
    io = ParquetDirTableIO(spark, out)
    encode_table(spark, transcripts, io, run_id="r1", salt_rows=2048, num_buckets=8)
    from parquet_converter_spark.partitioning import with_group_keys

    keyed = with_group_keys(transcripts, 8, 2048)
    expect = keyed.where(F.col("bucket") == 3).count()
    got = decode_table(spark, io, buckets=[3]).count()
    assert got == expect


def test_pandas_and_arrow_paths_agree(spark, transcripts, tmp_path_factory):
    """The pandas grouped-map/map paths are the reference
    implementation; both engine paths must produce interchangeable
    blocks and identical decodes."""
    base = tmp_path_factory.mktemp("paths")
    io_a = ParquetDirTableIO(spark, str(base / "arrow"))
    io_p = ParquetDirTableIO(spark, str(base / "pandas"))
    encode_table(spark, transcripts, io_a, run_id="r", salt_rows=2048, num_buckets=4, arrow_native=True)
    encode_table(spark, transcripts, io_p, run_id="r", salt_rows=2048, num_buckets=4, arrow_native=False)
    # cross-decode: arrow-written blocks through the pandas decoder
    dec_cross = decode_table(spark, io_a, arrow_native=False)
    assert verify_decode_digest(dec_cross, transcripts)["ok"]  # scan-cost mode
    dec_p = decode_table(spark, io_p, arrow_native=True)
    assert verify_decode_digest(dec_p, transcripts)["ok"]


def test_column_projected_decode(spark, transcripts, tmp_path_factory):
    """Decoding a column subset must read ONLY those blocks (pruned
    scan) and reproduce the columns exactly."""
    from parquet_converter_spark.plans.inspect import read_schemas

    out = str(tmp_path_factory.mktemp("proj"))
    io = ParquetDirTableIO(spark, out)
    encode_table(spark, transcripts, io, run_id="r1", salt_rows=2048, num_buckets=4)
    sub = decode_table(spark, io, columns=["conv_id", "turn_idx", "role"])
    assert sub.columns == ["conv_id", "turn_idx", "role"]
    schemas = [s for s in read_schemas(sub) if "_blk" in s]
    assert schemas and all("text_blk" not in s and "ts_blk" not in s for s in schemas)
    got = {(r["conv_id"], r["turn_idx"]): r["role"] for r in sub.collect()}
    want = {
        (r["conv_id"], r["turn_idx"]): r["role"]
        for r in transcripts.select("conv_id", "turn_idx", "role").collect()
    }
    assert got == want


def test_conversation_point_lookup(spark, transcripts, tmp_path_factory):
    from parquet_converter_spark.decode_job import decode_conversation

    out = str(tmp_path_factory.mktemp("lookup"))
    io = ParquetDirTableIO(spark, out)
    encode_table(spark, transcripts, io, run_id="r1", salt_rows=2048, num_buckets=8)
    conv = "conv_00000003"
    got = decode_conversation(spark, io, conv).orderBy("turn_idx").collect()
    want = transcripts.where(F.col("conv_id") == conv).orderBy("turn_idx").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(got) > 0


def test_per_column_codec_override(spark, transcripts, tmp_path_factory):
    """codec={col: name} pins specific columns, 'auto' for the rest —
    the engine analog of the reference's per-column dtypes override."""
    out = str(tmp_path_factory.mktemp("override"))
    io = ParquetDirTableIO(spark, out)
    encode_table(
        spark, transcripts, io, run_id="r1", salt_rows=2048, num_buckets=4,
        codec={"role": "rle", "text": "fsst", "ts": "delta"},
    )
    metrics = io.read("metrics")
    picked = {
        r["column"]: {x["codec"] for x in metrics.where(F.col("column") == r["column"]).collect()}
        for r in metrics.select("column").distinct().collect()
    }
    assert picked["role"] == {"rle"}
    assert picked["text"] == {"fsst"}
    assert picked["ts"] == {"delta"}
    result = verify_decode(decode_table(spark, io), transcripts)
    assert result["ok"], result


def test_metrics_table_has_codec_lineage(spark, transcripts, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("metrics"))
    io = ParquetDirTableIO(spark, out)
    encode_table(spark, transcripts, io, run_id="r1", salt_rows=2048, num_buckets=4)
    metrics = io.read(ckpt.METRICS)
    cols = {r["column"] for r in metrics.select("column").distinct().collect()}
    assert cols == {"conv_id", "turn_idx", "role", "text", "tool", "ts"}
    codecs = {r["codec"] for r in metrics.select("codec").distinct().collect()}
    # the auto-selector must actually be exercising multiple codecs
    assert len(codecs) >= 3, codecs


def test_decode_error_isolation_and_corrupt_scan(spark, transcripts, tmp_path):
    """A corrupt block must not kill the decode when on_error='skip':
    the block's rows (all columns) drop together, everything else
    decodes, and corrupt_blocks pinpoints the damage."""
    import pandas as pd
    from pyspark.sql import functions as F

    from parquet_converter_spark import checkpoint as ckpt
    from parquet_converter_spark.decode_job import corrupt_blocks

    out = str(tmp_path / "t")
    io = ParquetDirTableIO(spark, out)
    encode_table(spark, transcripts, io, run_id="r1", salt_rows=512, num_buckets=6)

    # tamper: truncate one block's text payload on disk
    pdf = io.read(ckpt.BLOCKS).toPandas()
    victim = pdf.index[0]
    n_lost = int(pdf.loc[victim, "n_rows"])
    pdf.loc[victim, "text_blk"] = bytes(pdf.loc[victim, "text_blk"])[:7]
    io.overwrite(spark.createDataFrame(pdf, schema=io.read(ckpt.BLOCKS).schema), ckpt.BLOCKS,
                 compression="uncompressed")

    # default: loud failure
    with pytest.raises(Exception):
        decode_table(spark, io).count()

    # skip: everything else decodes; no partial/misaligned columns
    decoded = decode_table(spark, io, on_error="skip")
    assert decoded.count() == transcripts.count() - n_lost
    assert decoded.where(F.col("conv_id").isNull()).count() == 0

    # both UDF paths agree
    decoded_p = decode_table(spark, io, on_error="skip", arrow_native=False)
    assert decoded_p.count() == transcripts.count() - n_lost

    # diagnostic scan names the exact block and column
    bad = corrupt_blocks(spark, io).collect()
    assert len(bad) == 1
    assert bad[0]["column"] == "text"
    assert (bad[0]["bucket"], bad[0]["salt"], bad[0]["chunk"]) == (
        int(pdf.loc[victim, "bucket"]),
        int(pdf.loc[victim, "salt"]),
        int(pdf.loc[victim, "chunk"]),
    )


def cut_packed_tail(blob: bytes) -> bytes:
    """``blob`` with the last byte of its codec payload cut off, framed
    uncompressed: a section cut short, as a corrupt length leaves it."""
    from parquet_converter_spark.codecs.arrow_blocks import _HDR, _U64
    from parquet_converter_spark.codecs.blocks import _decompress

    version, codec_id, dtype_id, comp, n, nulls = _HDR.unpack_from(blob, 0)
    pos = _HDR.size + ((n + 7) // 8 if nulls else 0)
    (raw_len,) = _U64.unpack_from(blob, pos)
    payload = _decompress(comp, blob[pos + 8 :], raw_len)[:-1]
    return (
        _HDR.pack(version, codec_id, dtype_id, 0, n, nulls)
        + blob[_HDR.size : pos]
        + _U64.pack(len(payload))
        + payload
    )


def test_block_with_a_short_section_fails_to_decode():
    import pyarrow as pa

    from parquet_converter_spark.codecs import decode_block
    from parquet_converter_spark.codecs.arrow_blocks import (
        decode_block_arrow,
        encode_block_arrow,
    )

    blob = encode_block_arrow(pa.array(np.arange(500) * 7 % 1000), "int64", "forbp")
    assert decode_block_arrow(blob)[0].to_pylist() == decode_block(blob)[0].tolist()
    with pytest.raises(ValueError, match="bit-packed payload"):
        decode_block_arrow(cut_packed_tail(blob))
    with pytest.raises(ValueError, match="bit-packed payload"):
        decode_block(cut_packed_tail(blob))


def test_block_with_a_short_section_is_skipped(spark, transcripts, tmp_path):
    """A block whose bit-packed section is cut short fails the decode
    under ``on_error='raise'`` and drops its rows under ``'skip'`` —
    it never decodes to zero-padded values."""
    from pyspark.sql import functions as F

    from parquet_converter_spark import checkpoint as ckpt

    io = ParquetDirTableIO(spark, str(tmp_path / "t"))
    encode_table(spark, transcripts, io, run_id="r1", salt_rows=512, num_buckets=4,
                 codec={"turn_idx": "forbp"})
    pdf = io.read(ckpt.BLOCKS).toPandas()
    victim = pdf.index[0]
    n_lost = int(pdf.loc[victim, "n_rows"])
    pdf.loc[victim, "turn_idx_blk"] = cut_packed_tail(bytes(pdf.loc[victim, "turn_idx_blk"]))
    io.overwrite(spark.createDataFrame(pdf, schema=io.read(ckpt.BLOCKS).schema), ckpt.BLOCKS,
                 compression="uncompressed")

    with pytest.raises(Exception, match="bit-packed payload"):
        decode_table(spark, io).count()
    kept = decode_table(spark, io, on_error="skip")
    assert kept.count() == transcripts.count() - n_lost
    assert verify_decode_digest(kept, transcripts.join(
        kept.select("conv_id", "turn_idx"), ["conv_id", "turn_idx"], "left_semi"))["ok"]
    assert kept.where(F.col("turn_idx").isNull()).count() == 0


def test_decode_rejects_newer_format_version(spark, transcripts, tmp_path):
    """A table written by a future engine version must fail fast with a
    clear message, not garbled per-block errors."""
    from pyspark.sql import functions as F

    from parquet_converter_spark import checkpoint as ckpt

    io = ParquetDirTableIO(spark, str(tmp_path / "t"))
    encode_table(spark, transcripts, io, run_id="r1", salt_rows=512, num_buckets=4)
    meta = io.read(ckpt.TABLE_META).withColumn("format_version", F.lit(99))
    io.overwrite(meta.localCheckpoint(eager=True), ckpt.TABLE_META)
    with pytest.raises(ValueError, match="format_version 99"):
        decode_table(spark, io).count()


def test_time_bucketed_encode_bit_identical_and_prunes(spark, transcripts, tmp_path_factory):
    """Time-clustered batch encode (VERDICT r03 missing #1): folding the
    event-time window into the salt must (a) stay bit-identical on
    decode, and (b) give batch blocks tight ts zone maps — a one-window
    slice touches a small fraction of blocks, where plain hash-bucket
    batch encode touches ~all of them."""
    from parquet_converter_spark.decode_job import decode_time_slice

    out = str(tmp_path_factory.mktemp("tb"))
    io = ParquetDirTableIO(spark, out)
    summary = encode_table(
        spark, transcripts, io, run_id="tb", salt_rows=512,
        num_buckets=4, chunk_rows=512, time_bucket=900,  # 15-min windows (fixture spans ~1 h)
    )
    assert summary["errors"] == 0
    # (a) correctness unchanged: digest-verify bit identity
    result = verify_decode_digest(decode_table(spark, io), transcripts)
    assert result["ok"], result

    # (b) pruning: synth convs start 1 min apart, ~2 s/turn → the table
    # spans many hours; one-hour slice must skip most blocks
    blocks = ckpt.committed_blocks(io)
    total = blocks.count()
    stats = blocks.agg(F.min("ts_min").alias("lo"), F.max("ts_max").alias("hi")).collect()[0]
    span = stats["hi"] - stats["lo"]
    assert span.total_seconds() > 3 * 900, "fixture must span several windows"
    lo = stats["lo"]
    hi = lo + pd.Timedelta(minutes=15) - pd.Timedelta(microseconds=1)
    touched = blocks.where(
        (F.col("ts_min").isNull() | (F.col("ts_min") <= F.lit(hi)))
        & (F.col("ts_max").isNull() | (F.col("ts_max") >= F.lit(lo)))
    ).count()
    assert touched < total / 2, (touched, total)

    # exact-slice result matches full-decode + filter
    sliced = decode_time_slice(spark, io, lo, hi)
    full = decode_table(spark, io).where((F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi)))
    assert sliced.count() == full.count() > 0


def test_time_bucketed_encode_resumes(spark, transcripts, tmp_path_factory):
    """Resume with time_bucket: group keys must line up across attempts
    (same salt construction), so a partial run completes without
    double-encoding."""
    out = str(tmp_path_factory.mktemp("tbres"))
    io = ParquetDirTableIO(spark, out)
    s1 = encode_table(
        spark, transcripts, io, run_id="tb", salt_rows=512, num_buckets=4,
        time_bucket=3600, max_groups=3,
    )
    s2 = encode_table(
        spark, transcripts, io, run_id="tb", salt_rows=512, num_buckets=4,
        time_bucket=3600,
    )
    assert s1["groups"] == 3
    n = transcripts.count()
    assert s1["rows"] + s2["rows"] == n
    assert decode_table(spark, io).count() == n


def test_time_bucket_validation():
    from parquet_converter_spark.partitioning import resolve_time_bucket

    assert resolve_time_bucket(None) is None
    assert resolve_time_bucket("day") == 86_400
    assert resolve_time_bucket(7200) == 7_200
    assert resolve_time_bucket("3600") == 3_600  # CLI/config pass strings
    with pytest.raises(ValueError):
        resolve_time_bucket("fortnight")
    with pytest.raises(ValueError):
        resolve_time_bucket(0)


def test_time_bucket_null_ts_reserved_window(spark, tmp_path_factory):
    """All-null-ts conversations land in the reserved window (-1) and
    still decode bit-identical; their blocks carry null ts stats (the
    conservative keep)."""
    rows = [("c0", i, "user", f"t{i}", None, None) for i in range(10)]
    df = spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA)
    out = str(tmp_path_factory.mktemp("tbnull"))
    io = ParquetDirTableIO(spark, out)
    encode_table(spark, df, io, run_id="n", salt_rows=512, num_buckets=2, time_bucket="day")
    blocks = ckpt.committed_blocks(io)
    assert blocks.where(F.col("ts_min").isNotNull()).count() == 0
    result = verify_decode(decode_table(spark, io), df)
    assert result["ok"], result


def test_resume_reuses_recorded_geometry_zero_planning_scans(
    spark, transcripts, tmp_path_factory, monkeypatch
):
    """A resume of an auto-planned run must take num_buckets from the
    prior attempt's table_meta row — both for key alignment and so the
    resume pays ZERO planning scans (no row estimate, no min/max(ts)
    span scan). Asserted by making both planning probes raise."""
    import parquet_converter_spark.encode_job as ej
    import parquet_converter_spark.partitioning as pt

    out = str(tmp_path_factory.mktemp("geo"))
    io = ParquetDirTableIO(spark, out)
    s1 = encode_table(
        spark, transcripts, io, run_id="geo", salt_rows=512,
        time_bucket=3600, max_groups=3,        # auto num_buckets: plans once
    )

    def boom(*a, **k):  # pragma: no cover - failure path
        raise AssertionError("planning scan ran on resume")

    # driver-side planning probes only — never serialized to executors
    monkeypatch.setattr(ej, "estimate_input_rows", boom)
    monkeypatch.setattr(pt, "ts_span_from_footers", boom)
    s2 = encode_table(
        spark, transcripts, io, run_id="geo", salt_rows=512, time_bucket=3600,
    )
    assert s2["num_buckets"] == s1["num_buckets"]
    n = transcripts.count()
    assert s1["rows"] + s2["rows"] == n
    assert decode_table(spark, io).count() == n


def test_table_meta_commits_before_manifest(spark, transcripts, tmp_path_factory):
    """Geometry must land BEFORE the manifest commit: a crash between
    the two appends must never yield a VISIBLE run whose bucketing is
    unrecorded (decode_conversation's pruning would miss its rows
    forever). An orphan meta row for an uncommitted run is harmless.
    The table_meta append overlaps the blocks append, so each append
    is recorded when it RETURNS (landed), and the manifest append must
    START only after both landed."""
    events = []

    class RecordingIO(ParquetDirTableIO):
        def append(self, df, name, compression="uncompressed"):
            events.append(("start", name))
            super().append(df, name, compression)
            events.append(("landed", name))

    out = str(tmp_path_factory.mktemp("metaord"))
    io = RecordingIO(spark, out)
    encode_table(spark, transcripts, io, run_id="m", salt_rows=512, num_buckets=4)
    manifest_start = events.index(("start", ckpt.MANIFEST))
    assert events.index(("landed", ckpt.TABLE_META)) < manifest_start, events
    assert events.index(("landed", ckpt.BLOCKS)) < manifest_start, events


def test_failed_table_meta_append_commits_nothing(spark, transcripts, tmp_path_factory):
    """The table_meta append runs on a side thread next to the blocks
    append; its failure must surface from encode_table before the
    commit point: no manifest row for that attempt, and a resume rerun
    commits every row exactly once."""

    class FailingMetaIO(ParquetDirTableIO):
        fail = True

        def append(self, df, name, compression="uncompressed"):
            if name == ckpt.TABLE_META and self.fail:
                raise OSError("simulated table_meta write failure")
            super().append(df, name, compression)

    out = str(tmp_path_factory.mktemp("metafail"))
    io = FailingMetaIO(spark, out)
    with pytest.raises(OSError, match="simulated table_meta"):
        encode_table(spark, transcripts, io, run_id="mf", salt_rows=512, num_buckets=4)
    # the blocks append completed (its orphans exist) but nothing committed
    assert io.exists(ckpt.BLOCKS)
    assert ckpt.read_manifest(io).count() == 0

    io.fail = False
    s = encode_table(spark, transcripts, io, run_id="mf", salt_rows=512, num_buckets=4)
    assert s["rows"] == transcripts.count()
    assert verify_decode_digest(decode_table(spark, io), transcripts)["ok"]


def test_point_lookup_falls_back_when_visible_run_lacks_meta(
    spark, transcripts, tmp_path_factory
):
    """A visible run with no table_meta row (legacy engine crashed
    between manifest and meta appends) must force the point lookup to
    the unpruned scan — pruning from the surviving rows' bucketings
    would silently miss the meta-less run's rows."""
    from parquet_converter_spark.decode_job import decode_conversation
    from parquet_converter_spark.schema import TABLE_META_SCHEMA

    out = str(tmp_path_factory.mktemp("metaless"))
    io = ParquetDirTableIO(spark, out)
    encode_table(spark, transcripts, io, run_id="r1", salt_rows=512, num_buckets=8)
    conv = transcripts.select("conv_id").first()[0]
    # swap the real meta row for a phantom run with a DIFFERENT
    # bucketing: bucketing-trusting code would prune to a wrong bucket
    meta = (
        io.read(ckpt.TABLE_META, TABLE_META_SCHEMA)
        .withColumn("run_id", F.lit("phantom~x"))
        .withColumn("num_buckets", F.lit(9973))
    )
    io.overwrite(meta.localCheckpoint(eager=True), ckpt.TABLE_META)

    expected = transcripts.where(F.col("conv_id") == conv).count()
    got = decode_conversation(spark, io, conv).count()
    assert got == expected > 0


def test_point_lookup_single_pre_decode_job(
    spark, transcripts, tmp_path_factory, monkeypatch
):
    """decode_conversation computes ALL candidate buckets (one per
    recorded bucketing) plus the meta-coverage probe without any
    collect — not one tiny Spark job per bucketing."""
    import pyspark.sql.classic.dataframe as cdf

    from parquet_converter_spark.decode_job import decode_conversation

    out = str(tmp_path_factory.mktemp("onejob"))
    io = ParquetDirTableIO(spark, out)
    # two disjoint increments under two different bucketings
    half = transcripts.where(F.col("turn_idx") % 2 == 0)
    other = transcripts.where(F.col("turn_idx") % 2 == 1)
    encode_table(spark, half, io, run_id="a", salt_rows=512, num_buckets=4, resume=False)
    encode_table(spark, other, io, run_id="b", salt_rows=512, num_buckets=8, resume=False)
    conv = transcripts.select("conv_id").first()[0]

    calls = []
    orig = cdf.DataFrame.collect

    def counting(self):
        calls.append(1)
        return orig(self)

    monkeypatch.setattr(cdf.DataFrame, "collect", counting)
    df = decode_conversation(spark, io, conv)
    # no pre-decode collect: the read snapshot answers the format gate
    # and meta coverage, and the candidate buckets are constant
    # expressions folded into the scan filter (the old shape paid one
    # collect per distinct bucketing, then 2)
    assert len(calls) == 0, len(calls)
    monkeypatch.setattr(cdf.DataFrame, "collect", orig)
    got = {r["turn_idx"] for r in df.collect()}
    expected = {
        r["turn_idx"] for r in transcripts.where(F.col("conv_id") == conv).collect()
    }
    assert got == expected


def test_time_slice_skips_provably_all_null_ts_blocks(spark, transcripts, tmp_path_factory):
    """On a time-clustered table, null-ts rows land in a sentinel
    window whose blocks overlap NO slice — yet null zone-map stats are
    'conservative keep', so without the ts_nulls proof every slice
    query would decode them forever. decode_time_slice must (a) still
    return exactly full-decode + filter, (b) skip blocks proven
    all-null by ts_nulls == n_rows, while (c) plain block-skip decode
    keeps them (retention and --ts-from CLI superset semantics)."""
    from parquet_converter_spark.decode_job import decode_time_slice

    src = transcripts.withColumn(
        "ts", F.when(F.col("turn_idx") % 11 == 0, None).otherwise(F.col("ts"))
    )
    out = str(tmp_path_factory.mktemp("nullslice"))
    io = ParquetDirTableIO(spark, out)
    encode_table(spark, src, io, run_id="r1", salt_rows=256, num_buckets=2,
                 chunk_rows=256, time_bucket=86_400)
    blocks = ckpt.committed_blocks(io)
    all_null = blocks.where(F.col("ts_nulls") == F.col("n_rows"))
    assert all_null.count() > 0  # the sentinel window exists
    stats = blocks.agg(F.min("ts_min").alias("lo"), F.max("ts_max").alias("hi")).collect()[0]
    span = stats["hi"] - stats["lo"]
    lo, hi = stats["lo"] + span * 0.4, stats["lo"] + span * 0.45

    got = decode_time_slice(spark, io, lo, hi).orderBy("conv_id", "turn_idx")
    want = (
        decode_table(spark, io)
        .where((F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi)))
        .orderBy("conv_id", "turn_idx")
    )
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]

    kept = decode_table(spark, io, ts_range=(lo, hi))
    pruned = decode_table(spark, io, ts_range=(lo, hi), skip_all_null_ts_blocks=True)
    n_null_rows = int(all_null.agg(F.sum("n_rows")).collect()[0][0])
    # superset decode carries every null-ts row; the proof-based skip
    # drops exactly the all-null blocks and nothing else
    assert kept.where(F.col("ts").isNull()).count() >= n_null_rows
    assert kept.count() - pruned.count() == n_null_rows
