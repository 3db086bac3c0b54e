"""The encode pipeline (SURVEY.md §3.4):

    source → resume anti-join → groupBy(bucket, salt)
           → applyInArrow(sort, chunk, encode per column)
           → blocks table + manifest + metrics commit

All per-value work happens inside the grouped-map UDF on Arrow
batches (vectorized numpy codecs); Spark's shuffle does the
distribution. The manifest append is the commit point — see
checkpoint.py for the resume/visibility contract.

``encode_table`` issues only the Spark jobs the commit protocol needs,
as four sequential steps (``‖`` = concurrent appends):

    1. probe        one collect: recorded geometry + "anything committed
                    in scope?" (checkpoint.resume_probe)
    2. row estimate only when no geometry was recorded
    3. blocks ‖ table_meta
    4. manifest ‖ metrics   — starts after BOTH step-3 appends returned

The crash state each edge can leave:

* crash in 1–2: nothing written.
* crash in 3: orphan blocks and/or an orphan table_meta row under an
  attempt id with no manifest row. Invisible (readers semi-join the
  manifest's visible triples); the extra meta row only widens a point
  lookup's candidate buckets. A replay re-encodes under a NEW attempt
  id, so the orphans never turn into duplicates.
* table_meta lands before the manifest (step 3 → 4), so a VISIBLE run
  always has its geometry — decode_conversation's bucket pruning
  depends on it.
* crash in 4: the manifest append either landed (run visible) or not
  (run invisible, as in step 3). Metrics rows for an invisible attempt
  are harmless: every metrics reader semi-joins visible triples
  (cli report).

The manifest and metrics are derived, distributed, from the blocks
that actually landed (never from the UDF output directly); the summary
and the maintenance abort read ``Observation`` counters taken on the
blocks and manifest writes instead of re-reading either table.
"""

from __future__ import annotations

import json
import time
import uuid

import pandas as pd
from pyspark import InheritableThread
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from . import checkpoint as ckpt
from .codecs.arrow_blocks import encode_block_arrow
from .codecs.blocks import block_codec, encode_block
from .partitioning import (
    DEFAULT_SALT_ROWS,
    estimate_input_rows,
    plan_num_buckets,
    resolve_time_bucket,
    with_group_keys,
)
from .schema import BLOCKS_STORED_SCHEMA, COLUMN_DTYPES, ENCODED_COLUMNS

#: rows per encoded chunk — bounds Arrow batch and block sizes
DEFAULT_CHUNK_ROWS = 65_536


def _codec_for(codec, col: str):
    """codec may be a single name ('auto', 'dict', …) or a per-column
    dict {column: name} with 'auto' fallback — the engine analog of the
    reference's per-column dtypes override (parser.py:190-192)."""
    if isinstance(codec, dict):
        return codec.get(col, "auto")
    return codec


def _encode_group_arrow_fn(run_id: str, codec, chunk_rows: int):
    """Arrow-native grouped-map UDF (applyInArrow): sorts, chunks, and
    encodes straight from pa.Array buffers — zero pandas objects. Falls
    back to an error marker row on failure (same contract as the
    pandas path)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from .schema import BLOCKS_STORED_SCHEMA

    out_fields = [(f.name) for f in BLOCKS_STORED_SCHEMA.fields]

    def _out_table(rows: list[dict]) -> pa.Table:
        cols = {
            "bucket": pa.array([r["bucket"] for r in rows], pa.int32()),
            "salt": pa.array([r["salt"] for r in rows], pa.int64()),
            "chunk": pa.array([r["chunk"] for r in rows], pa.int32()),
            "n_rows": pa.array([r["n_rows"] for r in rows], pa.int64()),
            **{
                f"{c}_blk": pa.array([r.get(f"{c}_blk") for r in rows], pa.binary())
                for c in ENCODED_COLUMNS
            },
            "meta": pa.array([r["meta"] for r in rows], pa.string()),
            "blk_bytes": pa.array([r["blk_bytes"] for r in rows], pa.int64()),
            # tz=UTC: the session pins spark.sql.session.timeZone=UTC
            # (session.py), and Spark's arrow verifier expects the
            # session-zoned type for TimestampType output columns
            "ts_min": pa.array([r.get("ts_min") for r in rows], pa.timestamp("us", tz="UTC")),
            "ts_max": pa.array([r.get("ts_max") for r in rows], pa.timestamp("us", tz="UTC")),
            "ts_nulls": pa.array([r.get("ts_nulls") for r in rows], pa.int64()),
            "conv_min": pa.array([r.get("conv_min") for r in rows], pa.string()),
            "conv_max": pa.array([r.get("conv_max") for r in rows], pa.string()),
            "run_id": pa.array([run_id] * len(rows), pa.string()),
        }
        return pa.table({name: cols[name] for name in out_fields})

    def encode_group(key: tuple, tbl: pa.Table) -> pa.Table:
        bucket, salt = int(key[0].as_py()), int(key[1].as_py())
        try:
            idx = pc.sort_indices(
                tbl,
                sort_keys=[("conv_id", "ascending"), ("turn_idx", "ascending")],
            )
            tbl = tbl.take(idx)
            rows = []
            n = tbl.num_rows
            for chunk_idx, start in enumerate(range(0, n, chunk_rows)):
                part = tbl.slice(start, chunk_rows)
                row: dict = {
                    "bucket": bucket,
                    "salt": salt,
                    "chunk": chunk_idx,
                    "n_rows": part.num_rows,
                }
                meta = {}
                blk_bytes = 0
                for col in ENCODED_COLUMNS:
                    arr = part.column(col).combine_chunks()
                    blob = encode_block_arrow(arr, COLUMN_DTYPES[col], _codec_for(codec, col))
                    row[f"{col}_blk"] = blob
                    meta[col] = {"codec": block_codec(blob), "bytes": len(blob)}
                    blk_bytes += len(blob)
                row["meta"] = json.dumps(meta)
                row["blk_bytes"] = blk_bytes
                # zone maps: conv bounds come free from the sort; ts needs
                # a real min/max (unsorted within a chunk). All-null ts →
                # null stats (= "unknown", conservative keep at decode)
                conv = part.column("conv_id")
                row["conv_min"] = conv[0].as_py()
                row["conv_max"] = conv[len(conv) - 1].as_py()
                mm = pc.min_max(part.column("ts"))
                row["ts_min"] = mm["min"].as_py()
                row["ts_max"] = mm["max"].as_py()
                row["ts_nulls"] = part.column("ts").null_count
                rows.append(row)
            return _out_table(rows)
        except Exception as exc:  # noqa: BLE001 — per-group error isolation
            err = {
                "bucket": bucket,
                "salt": salt,
                "chunk": -1,
                "n_rows": 0,
                "meta": json.dumps({"error": repr(exc)[:2000]}),
                "blk_bytes": 0,
            }
            return _out_table([err])

    return encode_group


def _encode_group_fn(run_id: str, codec: str, chunk_rows: int):
    """Build the grouped-map UDF. Everything below runs executor-side
    on one (bucket, salt) group at a time."""

    def encode_group(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        bucket, salt = int(key[0]), int(key[1])
        try:
            pdf = pdf.sort_values(["conv_id", "turn_idx"], kind="mergesort")
            out_rows = []
            n = len(pdf)
            for chunk_idx, start in enumerate(range(0, n, chunk_rows)):
                part = pdf.iloc[start : start + chunk_rows]
                row: dict = {
                    "bucket": bucket,
                    "salt": salt,
                    "chunk": chunk_idx,
                    "n_rows": len(part),
                }
                meta = {}
                blk_bytes = 0
                for col in ENCODED_COLUMNS:
                    blob = encode_block(part[col], COLUMN_DTYPES[col], _codec_for(codec, col))
                    row[f"{col}_blk"] = bytearray(blob)
                    meta[col] = {"codec": block_codec(blob), "bytes": len(blob)}
                    blk_bytes += len(blob)
                row["meta"] = json.dumps(meta)
                row["blk_bytes"] = blk_bytes
                # zone maps (see arrow path): sorted conv bounds + ts min/max
                row["conv_min"] = part["conv_id"].iloc[0]
                row["conv_max"] = part["conv_id"].iloc[-1]
                ts = part["ts"].dropna()
                row["ts_min"] = ts.min() if len(ts) else None
                row["ts_max"] = ts.max() if len(ts) else None
                row["ts_nulls"] = int(len(part) - len(ts))
                out_rows.append(row)
            out = pd.DataFrame(out_rows)
        except Exception as exc:  # noqa: BLE001 — per-group error isolation
            # the reference captures per-file errors into stats and keeps
            # going (converter.py:226-233); the distributed analog is an
            # error marker row: chunk=-1, no blocks, error in meta. The
            # commit step turns it into a status='error' manifest row, so
            # the group is retried on resume and never read by decode.
            err_row = {
                "bucket": bucket,
                "salt": salt,
                "chunk": -1,
                "n_rows": 0,
                "meta": json.dumps({"error": repr(exc)[:2000]}),
                "blk_bytes": 0,
                "ts_min": None,
                "ts_max": None,
                "ts_nulls": None,
                "conv_min": None,
                "conv_max": None,
            }
            for col in ENCODED_COLUMNS:
                err_row[f"{col}_blk"] = None
            out = pd.DataFrame([err_row])
        out["run_id"] = run_id
        return out

    return encode_group


def _alongside(side, main):
    """Run ``side()`` on a ``pyspark.InheritableThread`` (the job group
    and local properties carry over) while ``main()`` runs here; join,
    then re-raise ``side``'s exception. Both have returned when this
    returns, so the next commit step may depend on either."""
    failed: list[BaseException] = []

    def run():
        try:
            side()
        except BaseException as exc:  # noqa: BLE001 — re-raised after join
            failed.append(exc)

    t = InheritableThread(target=run)
    t.start()
    try:
        main()
    finally:
        t.join()
    if failed:
        raise failed[0]


def encode_table(
    spark: SparkSession,
    df: DataFrame,
    io,
    run_id: str | None = None,
    codec: str | dict = "auto",
    salt_rows: int = DEFAULT_SALT_ROWS,
    chunk_rows: int = DEFAULT_CHUNK_ROWS,
    num_buckets: int | None = None,
    resume: bool = True,
    max_groups: int | None = None,
    resume_scope: str = "global",
    arrow_native: bool = True,
    time_bucket=None,
    retire_triples: DataFrame | None = None,
) -> dict:
    """Encode a transcript DataFrame into the blocks table at ``io``.

    ``time_bucket`` ('hour'/'day'/'week' or seconds) opts into
    TIME-CLUSTERED encode: the event-time window index folds into the
    salt key, so each block covers one window and its ts zone maps
    become tight — ``decode_time_slice`` then prunes blocks on batch
    tables, not just streaming-epoch ones. Like ``salt_rows``, a
    resumed run must pass the SAME value or the group keys won't line
    up with the committed manifest.

    ``retire_triples`` — a (bucket, salt, run_id) frame of OLD triples
    this encode SUPERSEDES (compaction / retention rewrites,
    maintenance.py). Their 'retired' manifest rows ride in the SAME
    append as this run's 'done' rows, so the swap shares the one
    commit point: readers see either the old blocks (commit absent) or
    the new blocks only (commit present), never both.

    Returns a summary dict: groups committed, error groups, rows,
    encoded bytes, num_buckets and ``chunks`` (committed block rows).
    ``max_groups`` bounds how many pending groups this invocation
    commits — used by the kill/resume test and usable as incremental
    batch commit on a real cluster. ``resume_scope='run'`` restricts
    the resume anti-join to THIS run_id's prior commits (streaming
    epochs: each epoch is a new data increment whose groups must not be
    suppressed by earlier epochs, but an epoch REPLAY must still skip
    its own committed groups).

    Commit identity: ``run_id`` is the LOGICAL id (what callers pass
    and resume scopes match on, by prefix); every invocation stamps a
    unique physical id ``{run_id}~{attempt}`` into blocks/manifest/
    metrics/table_meta. This makes the commit replay-safe: a crash
    between the blocks append and the manifest append leaves orphan
    blocks under an attempt id that never gets a manifest row — the
    replay re-encodes under a NEW attempt id, so the orphans stay
    invisible to ``committed_blocks`` forever instead of becoming
    duplicate decoded rows; and a benign rerun of a fully-committed
    run_id appends nothing (the manifest is derived only from rows
    carrying this invocation's attempt id).
    """
    if run_id is not None and "~" in run_id:
        raise ValueError("run_id must not contain '~' (reserved attempt separator)")
    run_id = run_id or f"run_{int(time.time() * 1000):x}"
    phys_run_id = f"{run_id}~{uuid.uuid4().hex[:8]}"
    tb_secs = resolve_time_bucket(time_bucket)
    scope_run = run_id if resume_scope == "run" else None

    # ---- step 1: probe. ONE collect answers both pre-encode questions:
    # did a prior attempt of this logical run record its geometry under
    # identical grouping params (resume MUST key groups identically, and
    # reusing it skips every planning scan), and is anything committed
    # in resume scope (if not, and with no group cap, the resume
    # anti-join is skipped: no full-table distinct over the input)
    recorded, already = ckpt.resume_probe(
        io, run_id, scope_run, salt_rows, chunk_rows, tb_secs,
        geometry=num_buckets is None and resume,
        committed=resume and max_groups is None,
    )
    num_buckets = num_buckets if num_buckets is not None else recorded
    span = None
    if num_buckets is None:
        # ---- step 2 (only without recorded geometry): row estimate.
        # Planning estimate only — never a full scan of a non-parquet
        # source (estimate_input_rows: parquet metadata count, else
        # bytes/avg-line-length)
        n_rows = estimate_input_rows(spark, df)
        parallelism = spark.sparkContext.defaultParallelism
        if tb_secs is not None:
            # time clustering multiplies group count by the window
            # count, so auto-planning must target ≈salt_rows rows per
            # (bucket, window) or groups collapse to slivers. The
            # window count needs the ts span — parquet FOOTER stats
            # when available (O(files) metadata, zero data read), else
            # ONE map-side min/max over the pruned ts column (the
            # single data pre-read in planning; pass num_buckets
            # explicitly to skip both).
            from .partitioning import ts_span_from_footers

            span = ts_span_from_footers(df.inputFiles())
            if span is None:
                b = df.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
                span = (b["lo"], b["hi"]) if b["lo"] is not None else None
            n_windows = 1
            if span is not None:
                n_windows = max(1, int((span[1] - span[0]).total_seconds() // tb_secs) + 1)
            rows_per_window = n_rows // n_windows
            if n_windows > 1 and rows_per_window < salt_rows:
                import logging

                logging.getLogger("parquet_converter_spark").warning(
                    "time_bucket=%ss yields ~%d rows/window (< salt_rows=%d): "
                    "groups shatter into slivers, hurting compression and task "
                    "overhead — widen the window so rows/window >> salt_rows",
                    tb_secs, rows_per_window, salt_rows,
                )
            from .partitioning import plan_tb_num_buckets

            num_buckets = plan_tb_num_buckets(
                n_rows, n_windows, salt_rows, parallelism
            )
        else:
            num_buckets = plan_num_buckets(n_rows, salt_rows, parallelism)

    keyed = with_group_keys(df, num_buckets, salt_rows, time_bucket=tb_secs)

    if not already and max_groups is None:
        todo = keyed
    else:
        planned = keyed.select("bucket", "salt").distinct()
        pending = ckpt.pending_groups(io, planned, scope_run) if resume else planned
        if max_groups is not None:
            pending = pending.orderBy("bucket", "salt").limit(max_groups)
        # the pending-group list is one row per ~salt_rows input rows —
        # tiny in most resumes, but at 10^12 turns a cold restart has
        # ~15M groups (~300MB), past safe broadcast size. Hint broadcast
        # only when it provably fits; otherwise let Catalyst/AQE pick
        # (shuffled hash join on the already-shuffle-bound keys).
        if pending.limit(2_000_001).count() <= 2_000_000:
            pending = F.broadcast(pending)
        todo = keyed.join(pending, ["bucket", "salt"], "left_semi")

    grouped = todo.groupBy("bucket", "salt")
    if arrow_native:
        blocks = grouped.applyInArrow(
            _encode_group_arrow_fn(phys_run_id, codec, chunk_rows),
            schema=BLOCKS_STORED_SCHEMA,
        )
    else:
        blocks = grouped.applyInPandas(
            _encode_group_fn(phys_run_id, codec, chunk_rows), schema=BLOCKS_STORED_SCHEMA
        )
    # the commit counters are observed on the way to the sinks, never
    # re-read: the observed aggregates sit in the write's result stage,
    # whose accumulator updates Spark applies once per partition
    landed = Observation()
    blocks = blocks.observe(landed, F.count(F.when(F.col("chunk") == -1, 1)).alias("errors"))

    # table metadata: partitioning parameters decoders need for
    # selective reads (bucket pruning / conv_id point lookup) and
    # resumes reuse as planned geometry (resume_probe). One row per
    # attempt — epochs/resumes may plan different bucket counts, and a
    # pruning reader must consider every bucketing that ever wrote.
    # Driver-local one-row frame: the Arrow local-relation path, not a
    # 32-slice Python RDD whose write costs ~0.7 s (localframe.py)
    from .localframe import local_df
    from .schema import TABLE_META_SCHEMA

    ts_lo, ts_hi = span if span is not None else (None, None)
    meta_df = local_df(
        spark,
        [
            (
                phys_run_id,
                int(num_buckets),
                int(salt_rows),
                int(chunk_rows),
                1,
                tb_secs,
                ts_lo,
                ts_hi,
            )
        ],
        TABLE_META_SCHEMA,
    )
    # ---- step 3: blocks ‖ table_meta. Independent appends, so they
    # overlap; both must have RETURNED before step 4 starts
    _alongside(
        lambda: io.append(meta_df, ckpt.TABLE_META, compression="snappy"),
        lambda: io.append(blocks, ckpt.BLOCKS, compression="uncompressed"),
    )

    # ---- step 4: manifest ‖ metrics, both derived distributed from
    # what actually landed. blk_bytes was computed inside the UDF, so
    # these scan only the small non-binary columns (parquet column
    # pruning). Attempt-scoped: only THIS invocation's rows, never a
    # prior same-run_id attempt's (replay-safety — see docstring). The
    # pinned schema skips parquet schema inference, itself a Spark job
    written = io.read(ckpt.BLOCKS, BLOCKS_STORED_SCHEMA).where(
        F.col("run_id") == phys_run_id
    )
    manifest = (
        written.select("bucket", "salt", "chunk", "n_rows", "blk_bytes")
        .groupBy("bucket", "salt")
        .agg(
            F.count("*").cast("int").alias("n_chunks"),
            F.sum("n_rows").alias("n_rows"),
            F.sum("blk_bytes").alias("encoded_bytes"),
            F.max((F.col("chunk") == -1).cast("int")).alias("has_err"),
        )
        .select(
            F.lit(phys_run_id).alias("run_id"),
            "bucket",
            "salt",
            "n_chunks",
            "n_rows",
            "encoded_bytes",
            # error groups stay pending (retried on resume) and are
            # never visible to decode — reference O2 error isolation
            F.when(F.col("has_err") == 1, F.lit("error"))
            .otherwise(F.lit("done"))
            .alias("status"),
        )
    )
    if retire_triples is not None:
        # maintenance rewrites are ALL-OR-NOTHING: if any group's
        # re-encode errored, commit NOTHING — appending the retire rows
        # would permanently hide the error groups' source data (data
        # loss), and appending only the done rows would double the
        # successful groups. Aborting leaves the new blocks (and this
        # attempt's table_meta row) as manifest-less orphans (invisible;
        # vacuum reclaims the blocks) and the old table untouched — the
        # same guarantee as any crash before the commit point.
        if landed.get["errors"]:
            raise RuntimeError(
                "maintenance re-encode hit per-group errors; commit aborted — "
                "old triples remain visible, new blocks are orphaned "
                "(reclaimable via vacuum). Fix the cause and re-run."
            )
        manifest = manifest.unionByName(ckpt.retire_rows(retire_triples))
        # the retire+done swap must land in ONE task commit: the
        # manifest frame here is one row per group (tiny), so a single
        # part file keeps the multi-file-commit window out of the swap
        manifest = manifest.coalesce(1)
    done = F.col("status") == "done"
    committed = Observation()
    manifest = manifest.observe(
        committed,
        F.count(F.when(done, 1)).alias("groups"),
        F.count(F.when(F.col("status") == "error", 1)).alias("errors"),
        F.sum(F.when(done, F.col("n_rows"))).alias("rows"),
        F.sum(F.when(done, F.col("encoded_bytes"))).alias("encoded_bytes"),
        F.sum(F.when(done, F.col("n_chunks"))).alias("chunks"),
    )

    # per-(group, column) codec metrics from the meta JSON
    meta_schema = "map<string, struct<codec:string, bytes:bigint>>"
    metrics = (
        written.where(F.col("chunk") >= 0)
        .select("bucket", "salt", F.from_json("meta", meta_schema).alias("m"))
        .select("bucket", "salt", F.explode("m").alias("column", "cm"))
        .groupBy("bucket", "salt", "column")
        .agg(
            F.max(F.col("cm.codec")).alias("codec"),
            F.sum(F.col("cm.bytes")).alias("encoded_bytes"),
        )
        .select(
            F.lit(phys_run_id).alias("run_id"),
            "bucket",
            "salt",
            "column",
            "codec",
            "encoded_bytes",
        )
    )
    # the manifest append is the commit point
    _alongside(
        lambda: io.append(metrics, ckpt.METRICS, compression="snappy"),
        lambda: io.append(manifest, ckpt.MANIFEST, compression="snappy"),
    )

    summary = committed.get
    return {
        "run_id": run_id,
        "physical_run_id": phys_run_id,
        "groups": summary["groups"] or 0,
        "errors": summary["errors"] or 0,
        "rows": summary["rows"] or 0,
        "encoded_bytes": summary["encoded_bytes"] or 0,
        "num_buckets": num_buckets,
        "chunks": summary["chunks"] or 0,
    }
