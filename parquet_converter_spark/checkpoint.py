"""Checkpoint / lineage: manifest table + resume anti-join.

The manifest is the distributed analog of the reference's per-file
ConversionStats + JSON report (/root/reference/parquet_converter/
stats.py:8-50, logging.py:172-224): one row per completed (bucket,
salt) group, appended AFTER that run's block files land. A killed job
re-plans its group list and drops completed groups with a LEFT ANTI
join (SURVEY.md §2.6 — the one join the engine requires), so only
unfinished work re-executes; orphaned block files from an uncommitted
run are invisible to readers because the decode path semi-joins blocks
against the manifest on (bucket, salt, run_id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .schema import MANIFEST_SCHEMA

MANIFEST = "manifest"
BLOCKS = "blocks"
METRICS = "metrics"
TABLE_META = "table_meta"


def read_manifest(io) -> DataFrame:
    if io.exists(MANIFEST):
        return io.read(MANIFEST, MANIFEST_SCHEMA)
    from .localframe import empty_df

    return empty_df(io.spark, MANIFEST_SCHEMA)


def completed_groups(io, run_id: str | None = None) -> DataFrame:
    """Committed groups; with run_id, only THAT logical run's commits
    (used by streaming epochs, where each epoch is a disjoint data
    increment and must not be suppressed by earlier epochs' groups).
    Stored run_ids carry a per-attempt suffix ``~<attempt>``
    (encode_job stamps it for replay safety), so the scope filter
    matches the logical id by prefix — every attempt of this run."""
    m = read_manifest(io).where(F.col("status") == "done")
    if run_id is not None:
        m = m.where(_of_run(run_id))
    return m.select("bucket", "salt").distinct()


def _of_run(run_id: str):
    """Rows of every attempt of LOGICAL run ``run_id``: the bare id or
    any ``{run_id}~<attempt>`` physical id."""
    return (F.col("run_id") == run_id) | F.col("run_id").startswith(run_id + "~")


def pending_groups(io, planned: DataFrame, run_id: str | None = None) -> DataFrame:
    """planned(bucket, salt) minus committed — broadcast the done side
    when small; Catalyst/AQE picks the strategy at scale."""
    done = completed_groups(io, run_id)
    return planned.join(done, ["bucket", "salt"], "left_anti")


def visible_triples(io) -> DataFrame:
    """(bucket, salt, run_id) triples readers may see: committed
    ('done') and not later RETIRED. Retirement is how maintenance
    (compaction, retention) supersedes old physical blocks without
    rewriting history: a 'retired' manifest row for the same triple
    hides it from every reader while the lineage of both the original
    commit and the retirement stays in the manifest. Old tables have
    no retired rows, so this degrades to the plain done-set."""
    m = read_manifest(io)
    done = m.where(F.col("status") == "done").select("bucket", "salt", "run_id").distinct()
    retired = (
        m.where(F.col("status") == "retired").select("bucket", "salt", "run_id").distinct()
    )
    return done.join(retired, ["bucket", "salt", "run_id"], "left_anti")


def committed_blocks(io) -> DataFrame:
    """Blocks visible to readers: semi-join on visible (bucket, salt, run_id)."""
    from .schema import BLOCKS_STORED_SCHEMA  # local import to avoid cycle

    if not io.exists(BLOCKS):
        # a mid-vacuum crash leaves `blocks` momentarily absent with
        # recovery remnants beside it — reading that as an EMPTY table
        # would silently return 0 rows; fail loudly instead (any
        # maintenance entry point repairs it, see recover_vacuum)
        if hasattr(io, "path"):
            import os

            p = io.path(BLOCKS)
            if os.path.isdir(p + "__vacuum") or os.path.isdir(p + "__old"):
                raise RuntimeError(
                    "blocks table missing but vacuum remnants exist — a "
                    "vacuum crashed mid-swap; run "
                    "maintenance.recover_vacuum(io) (or any maintenance "
                    "command) to repair before reading"
                )
        from .localframe import empty_df

        return empty_df(io.spark, BLOCKS_STORED_SCHEMA)
    blocks = io.read(BLOCKS, BLOCKS_STORED_SCHEMA)
    # every visible (bucket, salt, run_id) triple is readable: distinct
    # runs over the same group key are DISJOINT data increments
    # (streaming epochs). Batch-mode double-encoding of a group is
    # prevented upstream by the resume anti-join under the
    # single-writer assumption (Iceberg OCC would enforce it with
    # concurrent writers); orphaned blocks from an uncommitted run
    # remain invisible because their run_id has no manifest row;
    # maintenance-superseded triples are hidden by their 'retired' row.
    return blocks.join(visible_triples(io), ["bucket", "salt", "run_id"], "left_semi")


def resume_probe(
    io,
    run_id: str,
    scope_run: str | None,
    salt_rows: int,
    chunk_rows: int,
    tb_secs: int | None,
    geometry: bool,
    committed: bool,
) -> tuple[int | None, bool]:
    """The one pre-encode metadata probe: ``(num_buckets, committed)``.

    ``num_buckets`` (asked with ``geometry``) is the bucket count a
    prior attempt of this LOGICAL run recorded under identical grouping
    parameters (salt_rows, chunk_rows, time_bucket_secs), or None when
    no attempt matches or attempts disagree (caller re-plans). A resumed
    run must key groups exactly as the committed manifest does, so the
    recorded count is both the CORRECT choice (re-planning from a
    changed row estimate would silently misalign the resume anti-join)
    and the cheap one: reusing it skips every planning scan — the row
    estimate and, for time-bucketed runs, the min/max(ts) span scan.

    ``committed`` (asked with ``committed``) says whether at least one
    'done' manifest row lies in resume scope (``scope_run``, see
    ``completed_groups``); False lets the caller skip the resume
    anti-join entirely.

    Both are LIMITED metadata scans (≤2 distinct table_meta geometries,
    ≤1 manifest row), unioned into ONE collect: one Spark execution
    answers both. Absent tables cost a filesystem check, no job."""
    from functools import reduce

    from .schema import TABLE_META_SCHEMA

    parts = []
    if geometry and io.exists(TABLE_META):
        parts.append(
            io.read(TABLE_META, TABLE_META_SCHEMA)
            .where(_of_run(run_id))
            .where(F.col("salt_rows") == int(salt_rows))
            .where(F.col("chunk_rows") == int(chunk_rows))
            .where(F.col("time_bucket_secs").eqNullSafe(F.lit(tb_secs).cast("long")))
            .select(F.lit("geometry").alias("kind"), "num_buckets")
            .distinct()
            .limit(2)
        )
    if committed and io.exists(MANIFEST):
        m = read_manifest(io).where(F.col("status") == "done")
        if scope_run is not None:
            m = m.where(_of_run(scope_run))
        parts.append(
            m.select(
                F.lit("committed").alias("kind"),
                F.lit(None).cast("int").alias("num_buckets"),
            ).limit(1)
        )
    if not parts:
        return None, False
    rows = reduce(DataFrame.unionByName, parts).collect()
    nbs = [r["num_buckets"] for r in rows if r["kind"] == "geometry"]
    return (
        int(nbs[0]) if len(nbs) == 1 else None,
        any(r["kind"] == "committed" for r in rows),
    )


def retire_rows(triples: DataFrame) -> DataFrame:
    """Manifest rows that RETIRE the given (bucket, salt, run_id)
    triples — the single shape used by every maintenance path (keep it
    here so a manifest schema change has one site to update)."""
    return triples.select(
        F.col("run_id").cast("string"),
        F.col("bucket").cast("int"),
        F.col("salt").cast("long"),
        F.lit(0).cast("int").alias("n_chunks"),
        F.lit(0).cast("long").alias("n_rows"),
        F.lit(0).cast("long").alias("encoded_bytes"),
        F.lit("retired").alias("status"),
    )
