"""Table maintenance: block compaction, zone-map retention, vacuum.

Streaming epochs and narrow time windows leave SMALL blocks (each
(bucket, salt, run_id) group commits its own chunk set), and
training-data tables eventually age out old events. Both lifecycle
operations are expressed on the engine's OWN commit protocol — no new
storage format:

* rewrites re-encode the affected rows under a fresh run_id via the
  ordinary encode path, and the superseded triples' ``retired``
  manifest rows ride in the SAME manifest append as the new run's
  ``done`` rows (encode_table ``retire_triples``), so the swap shares
  the one existing commit point: readers see the old blocks or the new
  blocks, never both, and a crash before the append changes nothing
  (the new attempt's orphan blocks stay invisible, exactly like any
  killed encode);
* retire-only steps (dropping data wholesale) are a single manifest
  append of ``retired`` rows — crash before: no-op, after: done;
* physical space comes back via ``vacuum_blocks``, which rewrites the
  blocks table keeping only visible triples (on Iceberg this is a
  metadata DELETE / rewrite_data_files instead — same contract,
  cheaper mechanics).

Planning reads only metadata. On a table whose root is on the driver's
filesystem it runs no Spark job: compaction's qualifying groups and
counts are an Arrow filter over the read snapshot's manifest read, a
rewrite's decode is scoped by a literal predicate on the triples (up to
``checkpoint.PREDICATE_VISIBLE_ROWS``), and vacuum counts dead rows and
bytes from a pyarrow read of the blocks table's small columns. Other
tables plan with distributed aggregates.

Retention leans on the per-block ts zone maps: a group whose every
block proves ``ts_max < cutoff`` retires WITHOUT being read; only
groups whose zone maps straddle the cutoff (or carry null stats =
unknown) are decoded and re-encoded filtered. On a time-bucketed
table (encode_table ``time_bucket``) the straddlers are one window's
worth — the zone maps earn their bytes a second time here.

Reference lineage: the reference converter has no table lifecycle at
all (one-shot file conversion, converter.py); these are the operations
its users need once outputs become long-lived tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from . import checkpoint as ckpt
from .decode_job import _decode_blocks, decode_table
from .encode_job import encode_table
from .schema import BLOCKS_STORED_SCHEMA, ENCODED_COLUMNS


def _visible_group_stats(snap) -> DataFrame:
    """Per visible (bucket, salt, run_id): chunk/row/byte totals from
    the manifest (tiny — one row per group, no blocks read)."""
    m = ckpt.read_manifest(snap.io).where(F.col("status") == "done")
    return (
        snap.where_visible(m)
        .groupBy(*ckpt.TRIPLE)
        .agg(
            F.sum("n_chunks").alias("n_chunks"),
            F.sum("n_rows").alias("n_rows"),
            F.sum("encoded_bytes").alias("encoded_bytes"),
        )
    )


def _plan_rewrite_buckets(spark, io, triples, n_rows, salt_rows, time_bucket):
    """(num_buckets, n_windows) for a maintenance rewrite. With time_bucket the
    window count divides into the target (the same sliver compensation
    encode_table's own auto-planning applies) — derived from the
    selected triples' BLOCK ZONE MAPS, so no data is read. Without it,
    plain rows/salt_rows planning."""
    from .partitioning import plan_num_buckets, plan_tb_num_buckets, resolve_time_bucket

    par = spark.sparkContext.defaultParallelism
    secs = resolve_time_bucket(time_bucket)
    if secs is None:
        return plan_num_buckets(n_rows, salt_rows, par), 1
    span = (
        _of_triples(io.read(ckpt.BLOCKS, BLOCKS_STORED_SCHEMA), triples)
        .agg(F.min("ts_min").alias("lo"), F.max("ts_max").alias("hi"))
        .collect()[0]
    )
    n_windows = 1
    if span["lo"] is not None and span["hi"] is not None:
        n_windows = max(1, int((span["hi"] - span["lo"]).total_seconds() // secs) + 1)
    return plan_tb_num_buckets(n_rows, n_windows, salt_rows, par), n_windows


def _of_triples(df: DataFrame, triples, n_keys: int | None = None) -> DataFrame:
    """The rows of ``df`` whose (bucket, salt, run_id) is one of
    ``triples``: a DataFrame, or an Arrow table read off a driver-side
    manifest (so at most ``DRIVER_MANIFEST_ROWS`` rows). An Arrow set of
    at most ``PREDICATE_VISIBLE_ROWS`` triples is a literal predicate
    (``checkpoint._member_of``, no job). Otherwise it is a semi-join,
    broadcast when the set provably fits: ``n_keys``, the caller's count
    of a frame, is at most ``DRIVER_MANIFEST_ROWS`` (a cold compact at
    10^12 turns can select millions of groups, same guard as the resume
    join); without a count Catalyst/AQE pick the strategy."""
    if not isinstance(triples, DataFrame):
        if triples.num_rows <= ckpt.PREDICATE_VISIBLE_ROWS:
            return df.where(ckpt._member_of(triples))
        n_keys = triples.num_rows
        triples = df.sparkSession.createDataFrame(triples.select(ckpt.TRIPLE))
    keys = triples.select(*ckpt.TRIPLE)
    if n_keys is not None and n_keys <= ckpt.DRIVER_MANIFEST_ROWS:
        keys = F.broadcast(keys)
    return df.join(keys, ckpt.TRIPLE, "left_semi")


def _decode_triples(
    spark: SparkSession, io, triples, cols: list[str] | None = None,
    n_keys: int | None = None,
) -> DataFrame:
    """Decode ONLY the given (bucket, salt, run_id) triples' blocks —
    the maintenance read path. decode_table's own block mapper, scoped
    by ``_of_triples``. ``cols`` projects a column subset: only those
    columns' binary blocks are read at all (the convergence guard
    decodes just the key columns, never the text)."""
    blocks = _of_triples(io.read(ckpt.BLOCKS, BLOCKS_STORED_SCHEMA), triples, n_keys)
    cols = list(ENCODED_COLUMNS) if cols is None else list(cols)
    return _decode_blocks(blocks, cols)


def compact_blocks(
    spark: SparkSession,
    io,
    min_fill: float = 0.5,
    chunk_rows: int = 65_536,
    salt_rows: int = 65_536,
    codec: str | dict = "auto",
    time_bucket=None,
    run_id: str | None = None,
    max_groups: int | None = None,
) -> dict:
    """Rewrite under-filled groups into full-size blocks.

    A group qualifies when its average rows-per-block falls below
    ``min_fill * chunk_rows`` (streaming epochs and shattered time
    windows are the usual producers). Qualifying groups are decoded
    (scoped to their triples — untouched groups are never read), re-encoded
    as ONE fresh run with the requested chunk/salt/codec/time_bucket,
    and their old triples retired in the same commit. Returns
    {"compacted_groups", "rows", "blocks_before", "blocks_after",
    "run_id"}; no-op dict when nothing qualifies.

    ``max_groups`` bounds ONE maintenance window: a cold compact of a
    10^12-turn table can qualify millions of groups, and an unbounded
    rewrite stakes them all on a single all-or-nothing commit. With
    the bound, each call rewrites the ``max_groups`` qualifying groups
    holding the most blocks (ties in (bucket, salt, run_id) order, so
    the window is deterministic) in its own independently crash-safe
    commit — a window of single-block groups could never pass the
    convergence guard below while fuller groups wait; repeat until
    ``compacted_groups == 0`` — already-compacted groups fall out of
    the qualifying set, so iteration converges to the same final state
    as one-shot.
    """
    if not 0.0 < min_fill <= 1.0:
        raise ValueError(f"min_fill must be in (0, 1], got {min_fill}")
    recover_vacuum(io)
    snap = ckpt.ReadSnapshot(io, group_stats=True)
    if snap.group_stats is not None:
        # driver path: the snapshot's manifest read already holds the
        # per-group sums, so the qualifying set is an Arrow filter —
        # materialized, nothing to pin, no job
        import pyarrow.compute as pc

        stats = snap.group_stats
        fill = pc.divide(
            pc.cast(stats["n_rows"], "double"), pc.max_element_wise(stats["n_chunks"], 1)
        )
        small = stats.filter(pc.less(fill, min_fill * chunk_rows))
        if max_groups is not None:
            small = small.sort_by(
                [("n_chunks", "descending")] + [(c, "ascending") for c in ("bucket", "salt", "run_id")]
            ).slice(0, int(max_groups))
        agg = {
            "groups": small.num_rows,
            "rows": pc.sum(small["n_rows"]).as_py(),
            "chunks": pc.sum(small["n_chunks"]).as_py(),
        }
        triples = small.select(ckpt.TRIPLE)
    else:
        small = _visible_group_stats(snap).where(
            (F.col("n_rows") / F.greatest(F.col("n_chunks"), F.lit(1)))
            < F.lit(min_fill * chunk_rows)
        )
        if max_groups is not None:
            small = small.orderBy(
                F.desc("n_chunks"), "bucket", "salt", "run_id"
            ).limit(int(max_groups))
        small = small.localCheckpoint(eager=True)  # pin the qualifying set:
        # the rewrite itself appends manifest rows, and a lazy `small`
        # re-evaluated after the commit would see them
        # NEVER collected: at 10^12 turns the under-filled set can be
        # millions of groups; one manifest-sized aggregate gives the counts
        agg = small.agg(
            F.count("*").alias("groups"),
            F.sum("n_rows").alias("rows"),
            F.sum("n_chunks").alias("chunks"),
        ).collect()[0]
        triples = small.select(*ckpt.TRIPLE)
    if not agg["groups"]:
        return {"compacted_groups": 0, "rows": 0, "blocks_before": 0,
                "blocks_after": 0, "run_id": None}
    # planned from manifest stats + zone maps — no planning data read;
    # window-aware so a time-bucketed rewrite doesn't re-shatter
    nb, n_windows = _plan_rewrite_buckets(
        spark, io, triples, int(agg["rows"]), salt_rows, time_bucket
    )
    # CONVERGENCE guard: a rewrite produces exactly one block per
    # OCCUPIED (bucket, salt) key plus chunk splits — if that floor
    # already meets the current block count, rewriting would shuffle
    # bytes forever without improving fill. The occupied-key count is
    # exact, not the a-priori nb × n_windows bound (which counts
    # POTENTIAL keys and wrongly skips small tables where many
    # same-conversation streaming epochs collapse into few keys): it
    # re-keys a decode of just conv_id/turn_idx/ts — the text blocks,
    # ~95% of the bytes, are never read (column-pruned blocks scan).
    # The exact count is only PAID when the decision is actually close
    # (code-review r5): chunk-floor alone can prove the skip without
    # it, and when even the a-priori key ceiling (potential group keys
    # + one spillover key per salt_rows rows for long conversations)
    # sits below the current count, the rewrite proceeds regardless —
    # the common productive-compaction case pays no extra decode. The
    # ceiling assumes spillover salt keys carry ~salt_rows rows each
    # (dense turn_idx, the transcript shape); a pathological table
    # whose conversations have turn-idx GAPS wider than salt_rows can
    # exceed it, costing one non-improving rewrite per compact call
    # instead of a skip — never a wrong result, and the exact check
    # still arbitrates whenever the ceiling is within reach.
    import math

    from .partitioning import resolve_time_bucket, with_group_keys

    rows_total = int(agg["rows"])
    chunks_now = int(agg["chunks"])
    chunk_floor = math.ceil(rows_total / chunk_rows)
    key_ceiling = nb * max(1, n_windows) + math.ceil(rows_total / salt_rows)
    if chunk_floor >= chunks_now:
        achievable = chunk_floor
    elif key_ceiling < chunks_now:
        achievable = None  # cannot reach the skip bar: rewrite helps
    else:
        key_cols = ["conv_id", "turn_idx"] + (
            ["ts"] if resolve_time_bucket(time_bucket) is not None else []
        )
        occupied = (
            with_group_keys(
                _decode_triples(
                    spark, io, triples, cols=key_cols, n_keys=int(agg["groups"])
                ),
                nb, salt_rows, time_bucket=time_bucket,
            )
            .select("bucket", "salt")
            .distinct()
            .count()
        )
        achievable = max(occupied, chunk_floor)
    if achievable is not None and achievable >= chunks_now:
        return {"compacted_groups": 0, "rows": 0,
                "blocks_before": chunks_now, "blocks_after": chunks_now,
                "run_id": None, "skipped": "rewrite cannot reduce block count "
                f"(achievable floor {achievable} >= current {chunks_now})"}
    rows_df = _decode_triples(spark, io, triples, n_keys=int(agg["groups"]))
    # all-or-nothing: encode_table ABORTS the whole commit (raises, old
    # table untouched, new blocks orphaned) if any group's re-encode
    # errors — retire_triples makes that its contract
    summary = encode_table(
        spark,
        rows_df,
        io,
        run_id=run_id or "compact",
        codec=codec,
        salt_rows=salt_rows,
        chunk_rows=chunk_rows,
        num_buckets=nb,
        resume=False,          # rewrites must not be suppressed by resume
        time_bucket=time_bucket,
        retire_triples=triples,
    )
    return {
        "compacted_groups": int(agg["groups"]),
        "rows": summary["rows"],
        "blocks_before": int(agg["chunks"]),
        "blocks_after": summary["chunks"],
        "run_id": summary["physical_run_id"],
    }


def retention_sweep(
    spark: SparkSession,
    io,
    cutoff,
    chunk_rows: int = 65_536,
    salt_rows: int = 65_536,
    codec: str | dict = "auto",
    time_bucket=None,
    max_groups: int | None = None,
) -> dict:
    """Drop rows with ``ts < cutoff`` using zone-map proofs.

    Three classes of visible group, decided from per-block stats alone:

    * ENTIRELY old — every block proves ``ts_max < cutoff`` (null stats
      disqualify: null = unknown = keep): retired outright with one
      manifest append; their data is never read.
    * STRADDLING — some block overlaps the cutoff or has null stats:
      decoded, filtered to ``ts >= cutoff OR ts IS NULL`` (null-ts rows
      cannot be proven old, so they are kept — the conservative
      contract), re-encoded as a fresh run, old triples retired in the
      same commit.
    * ENTIRELY new — untouched, never read.

    Returns {"retired_groups", "rewritten_groups", "rows_kept",
    "run_id"}.

    ``max_groups`` bounds how many STRADDLING groups one call rewrites
    (deterministic order, independently crash-safe commit per call —
    same contract as ``compact_blocks``); repeat until
    ``rewritten_groups == 0``. The retire-only class is never bounded:
    it is a single manifest append with no data read or rewrite risk.
    """
    recover_vacuum(io)
    blocks = ckpt.ReadSnapshot(io).blocks()
    # stats-only scan: the binary block columns are pruned from the read.
    # Null-ts rows are NEVER provably old (the sweep keeps them), so the
    # proofs need the ts_nulls block statistic: min/max skip nulls, and a
    # block mixing null-ts rows with pre-cutoff rows would otherwise
    # "prove" old and silently drop the nulls. Legacy blocks read
    # ts_nulls null = unknown → nothing provable → rewrite (safe).
    provably_old_blk = (
        F.col("ts_max").isNotNull()
        & (F.col("ts_max") < F.lit(cutoff))
        & (F.col("ts_nulls") == 0)
    )
    # a block needs no rewrite when it provably holds nothing the filter
    # would drop: all non-null ts >= cutoff, or the block is all-null
    # (ts_nulls == n_rows — the filter keeps every row either way)
    free_of_old_blk = (
        (F.col("ts_min").isNotNull() & (F.col("ts_min") >= F.lit(cutoff)))
        | (F.col("ts_nulls") == F.col("n_rows"))
    )
    per_group = (
        blocks.where(F.col("chunk") >= 0)
        .select("bucket", "salt", "run_id", "n_rows", "ts_min", "ts_max", "ts_nulls")
        .groupBy("bucket", "salt", "run_id")
        .agg(
            # three-valued logic lands conservative: a null proof (legacy
            # stats) must read as NOT-provably-old / touching — min/max
            # SKIP nulls, so coalesce each flag before aggregating
            F.min(F.coalesce(provably_old_blk.cast("int"), F.lit(0))).alias("all_old"),
            F.max(F.coalesce((~free_of_old_blk).cast("int"), F.lit(1))).alias("touches_old"),
        )
        .localCheckpoint(eager=True)  # pin classifications: the rewrite
        # appends manifest rows a lazy plan would re-read
    )
    # NEVER collected: one row per visible group can be millions at
    # 10^12 turns — classify and count distributed
    old = per_group.where(F.col("all_old") == 1).select("bucket", "salt", "run_id")
    straddle = per_group.where(
        (F.col("all_old") == 0) & (F.col("touches_old") == 1)
    ).select("bucket", "salt", "run_id")
    counts = per_group.agg(
        F.sum((F.col("all_old") == 1).cast("long")).alias("old"),
        F.sum(((F.col("all_old") == 0) & (F.col("touches_old") == 1)).cast("long")).alias("straddle"),
    ).collect()[0]
    n_old, n_straddle = int(counts["old"] or 0), int(counts["straddle"] or 0)
    if max_groups is not None and n_straddle > int(max_groups):
        # pin the bounded window: straddle is referenced three times
        # (row estimate, decode scope, retire set) and each must see
        # the identical group list
        straddle = (
            straddle.orderBy("bucket", "salt", "run_id")
            .limit(int(max_groups))
            .localCheckpoint(eager=True)
        )
        n_straddle = int(max_groups)

    rows_kept = 0
    rid = None
    if n_straddle:
        kept = _decode_triples(spark, io, straddle, n_keys=n_straddle).where(
            (F.col("ts") >= F.lit(cutoff)) | F.col("ts").isNull()
        )
        # bucket planning from manifest stats (straddle row count is an
        # upper bound on kept rows) — skips a planning decode pass;
        # encode_table aborts the whole commit on any re-encode error
        est_rows = int(
            ckpt.read_manifest(io)
            .where(F.col("status") == "done")
            .join(straddle, ["bucket", "salt", "run_id"], "left_semi")
            .agg(F.sum("n_rows").alias("r"))
            .collect()[0]["r"] or 0
        )
        summary = encode_table(
            spark, kept, io,
            run_id="retention", codec=codec, salt_rows=salt_rows,
            chunk_rows=chunk_rows, resume=False, time_bucket=time_bucket,
            num_buckets=_plan_rewrite_buckets(
                spark, io, straddle, est_rows, salt_rows, time_bucket
            )[0],
            retire_triples=straddle,
        )
        rows_kept = summary["rows"]
        rid = summary["physical_run_id"]

    if n_old:
        # a partially-landed retire-only append just drops fewer groups
        # than asked (re-run to finish) — still coalesce(1) so the
        # common case is one task commit
        io.append(
            ckpt.retire_rows(old).coalesce(1), ckpt.MANIFEST, compression="snappy"
        )

    return {
        "retired_groups": n_old,
        "rewritten_groups": n_straddle,
        "rows_kept": rows_kept,
        "run_id": rid,
    }


def recover_vacuum(io) -> str | None:
    """Repair a crashed vacuum swap (idempotent; called automatically
    by every maintenance entry point and by the blocks reader guard).

    The swap protocol writes the kept rows to ``blocks__vacuum`` (with
    Spark's _SUCCESS marker), renames ``blocks``→``blocks__old``, then
    ``blocks__vacuum``→``blocks``, then removes ``blocks__old``. Every
    crash point is recoverable from the on-disk remnants:

    * ``blocks`` present + ``__old`` remnant → crash after the second
      rename: finish by removing ``__old`` (and any stale ``__vacuum``).
    * ``blocks`` missing + complete ``__vacuum`` → crash between the
      renames: roll FORWARD (rename ``__vacuum``→``blocks``).
    * ``blocks`` missing + ``__old`` only (or incomplete ``__vacuum``)
      → roll BACK (rename ``__old``→``blocks``).

    Returns the action taken ('forward', 'back', 'cleanup') or None.
    """
    import os
    import shutil

    from .tableio import ParquetDirTableIO

    if not isinstance(io, ParquetDirTableIO):
        return None
    final = io.path(ckpt.BLOCKS)
    tmp_path = final + "__vacuum"
    old_path = final + "__old"
    tmp_complete = os.path.isfile(os.path.join(tmp_path, "_SUCCESS"))
    if os.path.isdir(final):
        if os.path.isdir(old_path) or os.path.isdir(tmp_path):
            shutil.rmtree(old_path, ignore_errors=True)
            shutil.rmtree(tmp_path, ignore_errors=True)
            return "cleanup"
        return None
    if tmp_complete:
        os.rename(tmp_path, final)
        shutil.rmtree(old_path, ignore_errors=True)
        return "forward"
    if os.path.isdir(old_path):
        os.rename(old_path, final)
        shutil.rmtree(tmp_path, ignore_errors=True)
        return "back"
    return None


def vacuum_remnants(io) -> bool:
    """True when a crashed vacuum swap left recovery remnants on disk
    (``blocks__vacuum`` / ``blocks__old``). Pure inspection — lets
    read-only surfaces REPORT the state without repairing it (repair
    renames/deletes directories and races a vacuum running in another
    process; it belongs to the maintenance entry points)."""
    import os

    from .tableio import ParquetDirTableIO

    if not isinstance(io, ParquetDirTableIO):
        return False
    final = io.path(ckpt.BLOCKS)
    return os.path.isdir(final + "__vacuum") or os.path.isdir(final + "__old")


def reclaimable_bytes(io, repair: bool = True) -> int:
    """Bytes held by block rows no reader can see (retired / orphaned)
    — what vacuum_blocks would free. Manifest-side only for the
    retired portion; orphans need the blocks scan, so this reads the
    blocks table's small columns (binary columns pruned).

    ``repair=False`` skips the crashed-vacuum auto-repair — for
    read-only callers (the CLI ``report`` command) that must not
    mutate directories; if a crashed swap actually left the blocks
    table missing, this returns 0 and ``vacuum_remnants`` tells the
    caller why."""
    if repair:
        recover_vacuum(io)
    if not io.exists(ckpt.BLOCKS):
        return 0
    return _dead_blocks(ckpt.ReadSnapshot(io))[1]


def _dead_blocks(snap) -> tuple[int, int]:
    """(rows, blk_bytes) of the block rows no reader of ``snap`` can see
    — retired triples and orphaned attempts — from the blocks table's
    small columns (binary columns pruned). On the driver path, with at
    most ``DRIVER_MANIFEST_ROWS`` block rows (footer count), a pyarrow
    read anti-joined with the snapshot's visible set; otherwise one
    distributed aggregate."""
    if snap.arrow_visible is not None:
        import pyarrow.compute as pc

        blocks = ckpt.arrow_dataset(
            snap.root, ckpt.BLOCKS, BLOCKS_STORED_SCHEMA, [*ckpt.TRIPLE, "blk_bytes"]
        )
        if blocks.count_rows() <= ckpt.DRIVER_MANIFEST_ROWS:
            dead = blocks.to_table().join(
                snap.arrow_visible, keys=ckpt.TRIPLE, join_type="left anti"
            )
            return dead.num_rows, pc.sum(dead["blk_bytes"]).as_py() or 0
    dead = snap.where_visible(
        snap.io.read(ckpt.BLOCKS, BLOCKS_STORED_SCHEMA).select(*ckpt.TRIPLE, "blk_bytes"),
        visible=False,
    ).agg(F.count("*").alias("rows"), F.sum("blk_bytes").alias("bytes")).collect()[0]
    return int(dead["rows"] or 0), int(dead["bytes"] or 0)


def vacuum_blocks(spark: SparkSession, io) -> dict:
    """Physically drop invisible block rows (retired triples and
    orphaned uncommitted attempts) by rewriting the blocks table.

    Parquet-dir mechanics: write the visible rows to a sibling temp
    dir (Spark's _SUCCESS marker proves completeness), then swap
    directories. The two renames are individually atomic but the pair
    is not — every crash point is repaired by ``recover_vacuum``
    (roll forward off a complete temp, roll back off the saved old
    dir), which runs automatically at the start of every maintenance
    entry point and in the blocks reader guard. On Iceberg the same
    operation is a metadata-level DELETE (no full rewrite); this is
    the jar-free equivalent. A FULL rewrite is the honest cost on a
    plain filesystem — run it at maintenance cadence, not per-job.
    Returns {"bytes_reclaimed", "rows_kept"}.
    """
    import os
    import shutil

    from .tableio import ParquetDirTableIO

    if not isinstance(io, ParquetDirTableIO):
        raise NotImplementedError(
            "vacuum_blocks rewrites a parquet-dir table; on Iceberg use "
            "DELETE WHERE (bucket, salt, run_id) NOT IN visible_triples "
            "+ rewrite_data_files (metadata-level, no full rewrite)"
        )
    recover_vacuum(io)  # finish/abort any prior crashed swap first
    if not io.exists(ckpt.BLOCKS):
        return {"bytes_reclaimed": 0, "rows_kept": -1}
    # ONE stats-only read answers both maintenance questions (was two:
    # a reclaimable-bytes sum plus a separate dead-row probe): decide
    # on dead ROWS, not bytes — aborted-commit orphans include 0-byte
    # error-marker rows that still deserve removal
    snap = ckpt.ReadSnapshot(io)
    dead_rows, freed = _dead_blocks(snap)
    if dead_rows == 0:
        return {"bytes_reclaimed": 0, "rows_kept": -1}
    kept = Observation()
    visible = snap.blocks().observe(kept, F.count("*").alias("rows"))
    tmp_path = io.path(ckpt.BLOCKS) + "__vacuum"
    visible.write.mode("overwrite").option("compression", "uncompressed").parquet(tmp_path)
    rows_kept = kept.get["rows"]
    final = io.path(ckpt.BLOCKS)
    old_path = final + "__old"
    os.rename(final, old_path)
    os.rename(tmp_path, final)
    shutil.rmtree(old_path)
    return {"bytes_reclaimed": freed, "rows_kept": rows_kept}
