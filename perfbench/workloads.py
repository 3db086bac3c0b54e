"""The benchmark's workloads: seeded inputs, set-up, timed ops, checks.

Every workload runs a fixed plan of ops whose length depends only on
``--seconds`` and the size, never on how fast the machine is, so two
runs of one seed do identical work and their medians compare like with
like. Op kinds are interleaved within each round, so a noisy-neighbour
window hits every kind. Each timed op is a root span ``op.<kind>``
whose children are the engine calls; correctness checks run outside the
timed ops and count toward ``failed`` like a failed op.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from . import gen

UTC = dt.timezone.utc
EPOCH = dt.datetime(1970, 1, 1, tzinfo=UTC)


def _ts(us: int) -> dt.datetime:
    return EPOCH + dt.timedelta(microseconds=int(us))


class OpFailed(Exception):
    """An op's output did not match what the source says it must be."""


class Ctx:
    """One run: the session, its tracer, the op log and the failures."""

    def __init__(self, spark, tracer, work: str, traced: bool):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.traced = traced
        self.ops: list[dict] = []
        self.failures: list[str] = []
        self.attempted = 0

    def op(self, kind: str, fn, phase: str = "timed") -> bool:
        """Run ``fn`` as one op under a root span. ``fn`` returns the
        turns it delivered (appended, decoded or returned) and raises
        OpFailed when its output is wrong."""
        self.attempted += 1
        with self.tracer.span(f"op.{kind}", op=len(self.ops), phase=phase) as rec:
            try:
                turns = fn()
                ok = True
            except Exception as exc:  # noqa: BLE001 — a failed op is counted, the run goes on
                turns, ok = 0, False
                self.failures.append(f"{phase} {kind}: {type(exc).__name__}: {str(exc)[:300]}")
        self.ops.append({
            "kind": kind, "phase": phase, "ok": ok, "turns": turns,
            "wall": rec["end"] - rec["start"], "span": rec["id"],
        })
        return ok

    def check(self, what: str, fn) -> None:
        """An untimed correctness check; a failure counts as a failed op."""
        self.attempted += 1
        with self.tracer.span(f"check.{what}", phase="check"):
            try:
                fn()
            except Exception as exc:  # noqa: BLE001 — counted, the run goes on
                self.failures.append(f"check {what}: {type(exc).__name__}: {str(exc)[:300]}")

    def probe(self, name: str, fn) -> None:
        """A traced-run-only call into one module, outside every op."""
        if self.traced:
            with self.tracer.span(name, phase="probe"):
                fn()

    def timed(self, kind: str) -> list[float]:
        return [o["wall"] for o in self.ops if o["phase"] == "timed" and o["kind"] == kind and o["ok"]]


class Workload:
    """Base: subclasses set the sizes and implement prepare/setup/round."""

    name = ""
    main_kind = ""
    side_kind = ""
    #: nominal seconds per round, which only turns --seconds into a
    #: fixed round count (never measured, so slow machines do the same work)
    round_s = 10.0
    min_rounds = 2
    sizes: dict = {}

    def __init__(self, size: str, seed: int, cache: str, seconds: float):
        self.size = size
        self.cfg = self.sizes[size]
        self.seed = seed
        self.cache = cache
        self.n_rounds = max(self.min_rounds, round(seconds / self.round_s))

    # ---- inputs (untimed, cached per (workload, size, seed)) ----------
    def input_dir(self, part: str) -> str:
        return os.path.join(self.cache, f"{self.name}-{self.size}-s{self.seed}", part)

    def ensure_input(self, part: str, n_turns: int, long_turns: int, first_conv: int = 0,
                     conv_stride: int = 1) -> str:
        path = self.input_dir(f"{part}-{n_turns}t-{long_turns}l")
        if not os.path.isdir(path):
            gen.write_transcripts(path, n_turns, self.seed, long_turns, f"{part}_",
                                  first_conv=first_conv, conv_stride=conv_stride)
        return path

    def prepare(self) -> None:
        raise NotImplementedError

    def input_paths(self) -> list[str]:
        """Every input directory, for the codec microbenchmark."""
        raise NotImplementedError

    # ---- engine-side ---------------------------------------------------
    def setup(self, ctx: Ctx) -> None:
        raise NotImplementedError

    def round(self, ctx: Ctx, i: int) -> None:
        raise NotImplementedError

    def finish(self, ctx: Ctx) -> None:
        """Untimed checks after the last round."""

    def probes(self, ctx: Ctx) -> None:
        """Per-round traced-only probes of the checkpoint visibility reads."""
        from parquet_converter_spark import checkpoint as ckpt

        io = self.io
        ctx.probe("checkpoint.visible_triples", lambda: ckpt.visible_triples(io).count())
        ctx.probe(
            "checkpoint.committed_blocks",
            lambda: ckpt.committed_blocks(io).select("bucket", "salt", "chunk").count(),
        )

    def read_source(self, ctx: Ctx, paths: list[str]):
        from parquet_converter_spark.schema import TRANSCRIPT_SCHEMA

        return ctx.spark.read.schema(TRANSCRIPT_SCHEMA).parquet(*paths)

    def encode(self, ctx: Ctx, paths: list[str], run_id: str, **kw) -> int:
        """One ``encode_table`` append; traced runs first time the
        partitioning planner on the same input."""
        from parquet_converter_spark import encode_job, partitioning

        df = self.read_source(ctx, paths)
        if ctx.traced:
            with ctx.tracer.span("partitioning.plan", traced_only=True):
                n = partitioning.estimate_input_rows(ctx.spark, df)
                partitioning.plan_num_buckets(n, parallelism=ctx.spark.sparkContext.defaultParallelism)
        with ctx.tracer.span("encode_job.encode_table") as rec:
            out = encode_job.encode_table(ctx.spark, df, self.io, run_id=run_id, resume_scope="run", **kw)
            rec["turns"] = int(out["rows"])
        if out["errors"]:
            raise OpFailed(f"encode {run_id}: {out['errors']} group errors")
        return int(out["rows"])

    def compact_cycle(self, ctx: Ctx, **kw) -> int:
        """compact_blocks + vacuum_blocks; a cycle must rewrite something."""
        from parquet_converter_spark import maintenance

        with ctx.tracer.span("maintenance.compact") as rec:
            out = maintenance.compact_blocks(ctx.spark, self.io, **kw)
            rec.update({k: out[k] for k in ("compacted_groups", "blocks_before", "blocks_after")})
        with ctx.tracer.span("maintenance.vacuum") as rec:
            rec["bytes_reclaimed"] = maintenance.vacuum_blocks(ctx.spark, self.io)["bytes_reclaimed"]
        if out["compacted_groups"] <= 0:
            raise OpFailed(f"compaction rewrote nothing: {out}")
        return 0

    def verify_digest(self, ctx: Ctx, paths: list[str]) -> int:
        from parquet_converter_spark import decode_job, verify

        with ctx.tracer.span("verify.digest"):
            res = verify.verify_decode_digest(
                decode_job.decode_table(ctx.spark, self.io), self.read_source(ctx, paths)
            )
        if not res["ok"]:
            raise OpFailed(f"digest mismatch: {res}")
        return int(res["decoded_rows"])

    def live_table(self, ctx: Ctx) -> tuple[int, int]:
        """(live encoded block bytes, live turns) of the table."""
        from parquet_converter_spark import checkpoint as ckpt
        from pyspark.sql import functions as F

        with ctx.tracer.span("checkpoint.live_stats", phase="check"):
            row = ckpt.committed_blocks(self.io).agg(
                F.sum("blk_bytes").alias("b"), F.sum("n_rows").alias("n")
            ).collect()[0]
        return int(row["b"] or 0), int(row["n"] or 0)


class Ingest(Workload):
    """Appends of fresh batches into one growing table, with a
    compaction + vacuum cycle after every two appends.

    Two appends warm up (the first of a process takes ~15 s, the next
    ~4 s, then ~3 s). There is no warm-up cycle: at 8-10 s it would not
    fit the benchmark's time budget (README.md), so the first cycle of
    every run carries the same first-run cost, and at least two cycles
    are timed so the side metric is never that one cycle alone."""

    name = "ingest"
    main_kind = "append"
    side_kind = "compact_cycle"
    round_s = 7.5
    warm_appends = 2
    sizes = {
        "full": {"batch_turns": 30_000, "long_turns": 8_000},
        "tiny": {"batch_turns": 6_000, "long_turns": 1_500},
    }

    def __init__(self, size, seed, cache, seconds):
        super().__init__(size, seed, cache, seconds)
        self.n_batches = self.warm_appends + 2 * self.n_rounds

    def batch(self, b: int) -> str:
        return self.ensure_input(f"b{b:02d}", self.cfg["batch_turns"], self.cfg["long_turns"],
                                 first_conv=b * 1_000_000)

    def prepare(self) -> None:
        self.paths = [self.batch(b) for b in range(self.n_batches)]

    def input_paths(self) -> list[str]:
        return self.paths[:1]

    def setup(self, ctx: Ctx) -> None:
        from parquet_converter_spark.tableio import ParquetDirTableIO

        self.io = ParquetDirTableIO(ctx.spark, os.path.join(ctx.work, "table"))
        self.done = 0
        for _ in range(self.warm_appends):
            ctx.op("append", lambda: self._append(ctx), phase="warmup")

    def _append(self, ctx: Ctx) -> int:
        b = self.done
        self.done += 1
        rows = self.encode(ctx, [self.paths[b]], run_id=f"batch{b:02d}")
        if rows != self.cfg["batch_turns"]:
            raise OpFailed(f"append batch{b:02d}: {rows} rows, source has {self.cfg['batch_turns']}")
        return rows

    def round(self, ctx: Ctx, i: int) -> None:
        for _ in range(2):
            ctx.op("append", lambda: self._append(ctx))
        ctx.op("compact_cycle", lambda: self.compact_cycle(ctx))
        self.probes(ctx)

    def finish(self, ctx: Ctx) -> None:
        # compaction rewrites content it must preserve, so any change one
        # cycle made is still in the final table: one digest against every
        # appended batch proves each cycle left the digest unchanged
        ctx.check("digest", lambda: self.verify_digest(ctx, self.paths[: self.done]))


class Scan(Workload):
    """Full decode, projected decode and digest verify of one
    hash-bucketed table built with engine defaults."""

    name = "scan"
    main_kind = "full"
    side_kind = "verify"
    round_s = 3.0
    min_rounds = 3
    sizes = {
        "full": {"turns": 200_000, "long_turns": 70_000},
        "tiny": {"turns": 20_000, "long_turns": 2_000},
    }
    proj = ["conv_id", "turn_idx", "role"]

    def prepare(self) -> None:
        self.path = self.ensure_input("src", self.cfg["turns"], self.cfg["long_turns"])
        turn_idx = pq.read_table(self.path, columns=["turn_idx"]).column("turn_idx")
        #: what every full or projected decode must deliver: (rows, sum of turn_idx)
        self.expect = (len(turn_idx), pc.sum(turn_idx.cast(pa.int64())).as_py())

    def input_paths(self) -> list[str]:
        return [self.path]

    def setup(self, ctx: Ctx) -> None:
        from parquet_converter_spark.tableio import ParquetDirTableIO

        self.io = ParquetDirTableIO(ctx.spark, os.path.join(ctx.work, "table"))
        with ctx.tracer.span("op.build", phase="setup"):
            self.encode(ctx, [self.path], run_id="base")
        for kind in ("full", "proj", "verify"):
            ctx.op(kind, lambda k=kind: self._run(ctx, k), phase="warmup")

    def _run(self, ctx: Ctx, kind: str) -> int:
        from parquet_converter_spark import decode_job
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        if kind == "verify":
            return self.verify_digest(ctx, [self.path])
        # the no-op sink keeps nothing, so the rows it consumed are
        # observed on the way and checked against the source
        obs = Observation()
        with ctx.tracer.span(f"decode_job.{kind}"):
            decode_job.decode_table(
                ctx.spark, self.io, columns=self.proj if kind == "proj" else None
            ).observe(
                obs, F.count(F.lit(1)).alias("rows"), F.sum("turn_idx").alias("turn_sum")
            ).write.format("noop").mode("overwrite").save()
        got = (obs.get["rows"], obs.get["turn_sum"])
        if got != self.expect:
            raise OpFailed(f"{kind} decode delivered (rows, turn_idx sum) {got}, source has {self.expect}")
        return got[0]

    def round(self, ctx: Ctx, i: int) -> None:
        for kind in ("full", "proj", "verify"):
            ctx.op(kind, lambda k=kind: self._run(ctx, k))
        self.probes(ctx)


class Lookup(Workload):
    """Point lookups and ~1% time slices on a time-clustered table built
    from two interleaved batches and compacted in set-up."""

    name = "lookup"
    main_kind = "point"
    side_kind = "slice"
    round_s = 4.0
    min_rounds = 4
    sizes = {
        "full": {"batch_turns": 500_000, "long_turns": 70_000},
        "tiny": {"batch_turns": 10_000, "long_turns": 1_000},
    }
    n_batches = 2
    time_bucket = "day"
    slice_frac = 0.01

    def prepare(self) -> None:
        self.paths = [
            self.ensure_input(f"b{b}", self.cfg["batch_turns"], self.cfg["long_turns"],
                              first_conv=b, conv_stride=self.n_batches)
            for b in range(self.n_batches)
        ]
        src = pa.concat_tables(
            [pq.read_table(p, columns=["conv_id", "ts"]) for p in self.paths]
        )
        counts = src.group_by("conv_id").aggregate([("conv_id", "count")])
        n = counts.column("conv_id_count").to_numpy()
        ids = counts.column("conv_id").to_pylist()
        rng = random.Random(self.seed)
        # point targets: ordinary conversations (10..500 turns), seeded order
        self.points = [(ids[i], int(n[i])) for i in np.flatnonzero((n >= 10) & (n <= 500))]
        rng.shuffle(self.points)
        ts = np.sort(pc.drop_null(src.column("ts")).cast(pa.int64()).to_numpy())
        lo_us, hi_us = int(ts[0]), int(ts[-1])
        width = int((hi_us - lo_us) * self.slice_frac) // 1_000_000 * 1_000_000
        self.slices = []
        for _ in range(256):
            lo = lo_us + rng.randrange(0, hi_us - lo_us - width) // 1_000_000 * 1_000_000
            hi = lo + width
            expect = int(np.searchsorted(ts, hi, "right") - np.searchsorted(ts, lo, "left"))
            self.slices.append((_ts(lo), _ts(hi), expect))

    def input_paths(self) -> list[str]:
        return self.paths

    def setup(self, ctx: Ctx) -> None:
        from parquet_converter_spark.tableio import ParquetDirTableIO

        self.io = ParquetDirTableIO(ctx.spark, os.path.join(ctx.work, "table"))
        with ctx.tracer.span("op.build", phase="setup"):
            for b, path in enumerate(self.paths):
                self.encode(ctx, [path], run_id=f"load{b}", time_bucket=self.time_bucket)
            self.compact_cycle(ctx, time_bucket=self.time_bucket)
        self.n_point = self.n_slice = 0
        ctx.op("point", lambda: self._point(ctx), phase="warmup")
        ctx.op("slice", lambda: self._slice(ctx), phase="warmup")
        ctx.check("digest", lambda: self.verify_digest(ctx, self.paths))

    def _point(self, ctx: Ctx) -> int:
        from parquet_converter_spark import decode_job

        conv_id, expect = self.points[self.n_point % len(self.points)]
        self.n_point += 1
        with ctx.tracer.span("decode_job.point"):
            got = len(decode_job.decode_conversation(ctx.spark, self.io, conv_id).collect())
        if got != expect:
            raise OpFailed(f"point {conv_id}: {got} rows, source has {expect}")
        return got

    def _slice(self, ctx: Ctx) -> int:
        from parquet_converter_spark import decode_job

        lo, hi, expect = self.slices[self.n_slice % len(self.slices)]
        self.n_slice += 1
        with ctx.tracer.span("decode_job.slice"):
            got = len(decode_job.decode_time_slice(ctx.spark, self.io, lo, hi).collect())
        if got != expect:
            raise OpFailed(f"slice {lo}..{hi}: {got} rows, source has {expect}")
        return got

    def round(self, ctx: Ctx, i: int) -> None:
        ctx.op("point", lambda: self._point(ctx))
        ctx.op("slice", lambda: self._slice(ctx))
        if i % 2 == 0:
            self.probes(ctx)


WORKLOADS = {w.name: w for w in (Ingest, Scan, Lookup)}


def codec_microbench(paths: list[str], chunk_rows: int = 65_536, chunks: int = 2, reps: int = 3) -> dict:
    """Driver-side, single-thread encode/decode of the benchmark's own
    chunks, per column: ns per turn (median of ``reps``) and bytes per turn."""
    from parquet_converter_spark.codecs.arrow_blocks import decode_block_arrow, encode_block_arrow
    from parquet_converter_spark.schema import COLUMN_DTYPES

    tbl = pa.concat_tables([pq.read_table(p) for p in paths])
    start = max(0, tbl.num_rows // 2 - chunk_rows)
    out = {}
    for col, dtype in COLUMN_DTYPES.items():
        enc_ns = dec_ns = nbytes = rows = 0
        for k in range(chunks):
            arr = tbl.column(col).slice(start + k * chunk_rows, chunk_rows).combine_chunks()
            if len(arr) == 0:
                continue
            e, d = [], []
            for _ in range(reps):
                t0 = time.perf_counter_ns()
                blob = encode_block_arrow(arr, dtype)
                t1 = time.perf_counter_ns()
                decode_block_arrow(blob)
                d.append(time.perf_counter_ns() - t1)
                e.append(t1 - t0)
            enc_ns += statistics.median(e)
            dec_ns += statistics.median(d)
            nbytes += len(blob)
            rows += len(arr)
        out[col] = {
            "encode_ns_per_turn": enc_ns / max(rows, 1),
            "decode_ns_per_turn": dec_ns / max(rows, 1),
            "bytes_per_turn": nbytes / max(rows, 1),
        }
    return out


def tamper_one_block(table_root: str) -> str:
    """Flip the last byte of one committed block's text blob in place —
    the benchmark's self-test that a corrupt block fails the run."""
    blocks = os.path.join(table_root, "blocks")
    part = sorted(f for f in os.listdir(blocks) if f.endswith(".parquet"))[0]
    path = os.path.join(blocks, part)
    tbl = pq.read_table(path)
    col = tbl.column("text_blk").to_pylist()
    blob = bytearray(col[0])
    blob[-1] ^= 0xFF
    col[0] = bytes(blob)
    idx = tbl.schema.get_field_index("text_blk")
    tbl = tbl.set_column(idx, tbl.schema.field(idx), pa.array(col, pa.binary()))
    pq.write_table(tbl, path + ".tmp", compression="none")
    shutil.move(path + ".tmp", path)
    # drop the filesystem checksum so the engine's own decode must notice
    crc = os.path.join(blocks, f".{part}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    return path
