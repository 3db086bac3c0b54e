"""Checkpoint / lineage: manifest table, resume anti-join and the read
snapshot.

The manifest is the distributed analog of the reference's per-file
ConversionStats + JSON report (/root/reference/parquet_converter/
stats.py:8-50, logging.py:172-224): one row per completed (bucket,
salt) group, appended AFTER that run's block files land. A killed job
re-plans its group list and drops completed groups with a LEFT ANTI
join (SURVEY.md §2.6 — the one join the engine requires), so only
unfinished work re-executes; orphaned block files from an uncommitted
run are invisible to readers because the decode path semi-joins blocks
against the manifest's visible (bucket, salt, run_id) triples.

Every read entry point — decode, verify, maintenance, ``cli report`` —
opens ONE :class:`ReadSnapshot` and asks it every metadata question of
that read: the table format gate, the visible triple set and the
bucketings a point lookup hashes into. On a parquet-dir table whose
root is on the driver's filesystem (``localframe.driver_fs_path``) and
whose manifest holds at most ``DRIVER_MANIFEST_ROWS`` rows (parquet
footer count, no data read), the snapshot resolves all of it with
pyarrow and runs ZERO Spark jobs: ``table_meta`` and the manifest's
four small columns are read under the pinned schemas, ``done −
retired`` is one Arrow group-by, and a visible set of at most
``DRIVER_VISIBLE_ROWS`` triples enters Spark as an Arrow local
relation, broadcast into the blocks left-semi join. Any other table
(Iceberg, a remote filesystem, a larger manifest or visible set) gets
the same semi-join shape over one distributed single-pass aggregate,
``max(status = 'done')`` and ``max(status = 'retired')`` per triple;
off the driver's filesystem ``table_meta`` — one row per encode
attempt — is collected once with Spark.
The fork exists because a 10^12-turn table's manifest has millions of
groups: that per-group frame is never collected.

A read's metadata is fixed when its snapshot opens: the format gate
and the bucketings on both paths, and the visible set on the driver
path (the fallback's visible set is a lazy plan, re-read by each
action). No caller holds a snapshot across a commit: compaction and
retention pin the frames they derive from it with ``localCheckpoint``
before they append.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructType

from .schema import BLOCKS_STORED_SCHEMA, MANIFEST_SCHEMA, TABLE_META_SCHEMA

MANIFEST = "manifest"
BLOCKS = "blocks"
METRICS = "metrics"
TABLE_META = "table_meta"

#: highest table format this decoder understands (block frames carry
#: their own per-blob version; this is the table-level contract)
SUPPORTED_FORMAT_VERSION = 1

#: largest manifest (rows) a snapshot resolves on the driver — the
#: engine's broadcast guard, shared with maintenance._decode_triples.
#: The Arrow read and group-by cost ~0.4 s at 1M rows.
DRIVER_MANIFEST_ROWS = 2_000_000

#: largest visible set handed to Spark as an Arrow local relation.
#: Building and broadcasting that relation grows ~5.6 µs per triple,
#: faster than the distributed aggregate does. Full decode of a
#: 200k-turn table on local[4], local relation vs aggregate: 1.07 vs
#: 1.22 s at 10k visible triples, 1.34 vs 1.27 s at 100k, 6.2 vs 3.3 s
#: at 1M.
DRIVER_VISIBLE_ROWS = 50_000

#: the key every visibility join runs on
TRIPLE = ["bucket", "salt", "run_id"]
_TRIPLE_SCHEMA = StructType([MANIFEST_SCHEMA[k] for k in TRIPLE])


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


def _arrow_dataset(path: str, schema: StructType, columns: list[str]):
    """pyarrow dataset over one table directory, projected to
    ``columns`` of the pinned ``schema``: a file lacking a column (a
    legacy ``table_meta``) reads it as null. The dataset ignores
    ``_``- and ``.``-prefixed entries (``_SUCCESS``, ``_temporary/``,
    ``.crc`` checksums) exactly as Spark's file listing does."""
    import pyarrow as pa
    import pyarrow.dataset as ds
    from pyspark.sql.pandas.types import to_arrow_type

    # nullable: Spark writes every parquet column as optional
    arrow_schema = pa.schema(
        [pa.field(c, to_arrow_type(schema[c].dataType)) for c in columns]
    )
    return ds.dataset(path, format="parquet", schema=arrow_schema)


class ReadSnapshot:
    """The metadata of ONE read, resolved when it opens (module
    docstring). Raises ``ValueError`` when the table was written by a
    newer engine format.

    ``visible`` — the (bucket, salt, run_id) triples readers may see:
    committed ('done') and not later RETIRED. Retirement is how
    maintenance (compaction, retention) supersedes old physical blocks
    without rewriting history: a 'retired' manifest row for the same
    triple hides it from every reader while the lineage of both the
    original commit and the retirement stays in the manifest. Old
    tables have no retired rows, so this is the plain done-set."""

    def __init__(self, io):
        from .localframe import driver_fs_path
        from .tableio import ParquetDirTableIO

        self.io = io
        root = (
            driver_fs_path(io.spark, io.root)
            if isinstance(io, ParquetDirTableIO)
            else None
        )
        self._meta = self._read_meta(root)
        newest = max((v for _run, _nb, v in self._meta if v is not None), default=None)
        if newest is not None and newest > SUPPORTED_FORMAT_VERSION:
            raise ValueError(
                f"table format_version {newest} is newer than this decoder "
                f"(supports <= {SUPPORTED_FORMAT_VERSION}); upgrade the engine"
            )
        visible = None if root is None else self._driver_visible(root)
        self._visible_runs = None  # without Arrow: collected if a point lookup asks
        if visible is not None:
            self._visible_runs = set(visible["run_id"].unique().to_pylist())
        if visible is not None and visible.num_rows <= DRIVER_VISIBLE_ROWS:
            self.visible = F.broadcast(io.spark.createDataFrame(visible, _TRIPLE_SCHEMA))
        else:
            self.visible = (
                read_manifest(io)
                .groupBy(*TRIPLE)
                .agg(
                    F.max(F.col("status") == "done").alias("done"),
                    F.max(F.col("status") == "retired").alias("retired"),
                )
                .where(F.col("done") & ~F.col("retired"))
                .select(*TRIPLE)
            )

    def _read_meta(self, root: str | None) -> list[tuple]:
        """(run_id, num_buckets, format_version) per table_meta row —
        one row per encode attempt, so always driver-sized."""
        import os

        cols = ["run_id", "num_buckets", "format_version"]
        if not self.io.exists(TABLE_META):
            return []  # pre-table_meta tables are format 1 by definition
        if root is None:
            meta = self.io.read(TABLE_META, TABLE_META_SCHEMA).select(*cols)
            return [tuple(r) for r in meta.collect()]
        t = _arrow_dataset(os.path.join(root, TABLE_META), TABLE_META_SCHEMA, cols).to_table()
        return list(zip(*[t[c].to_pylist() for c in cols]))

    def _driver_visible(self, root: str):
        """The visible triples as an Arrow table (``done − retired`` in
        one group-by), or None when the manifest holds more than
        ``DRIVER_MANIFEST_ROWS`` rows (footer count, no data read)."""
        import os

        import pyarrow as pa
        import pyarrow.compute as pc
        from pyspark.sql.pandas.types import to_arrow_schema

        if not self.io.exists(MANIFEST):
            return pa.Table.from_batches([], schema=to_arrow_schema(_TRIPLE_SCHEMA))
        dataset = _arrow_dataset(
            os.path.join(root, MANIFEST), MANIFEST_SCHEMA, [*TRIPLE, "status"]
        )
        if dataset.count_rows() > DRIVER_MANIFEST_ROWS:
            return None
        m = dataset.to_table()
        flags = m.select(TRIPLE).append_column(
            "done", pc.equal(m["status"], "done")
        ).append_column("retired", pc.equal(m["status"], "retired"))
        g = flags.group_by(TRIPLE).aggregate([("done", "any"), ("retired", "any")])
        return g.filter(pc.and_(g["done_any"], pc.invert(g["retired_any"]))).select(TRIPLE)

    def blocks(self) -> DataFrame:
        """Blocks visible to readers: the blocks table left-semi-joined
        on the visible triples."""
        io = self.io
        if not io.exists(BLOCKS):
            # a mid-vacuum crash leaves `blocks` momentarily absent with
            # recovery remnants beside it — reading that as an EMPTY
            # table would silently return 0 rows; fail loudly instead
            # (any maintenance entry point repairs it, see recover_vacuum)
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
        # every visible (bucket, salt, run_id) triple is readable:
        # distinct runs over the same group key are DISJOINT data
        # increments (streaming epochs). Batch-mode double-encoding of a
        # group is prevented upstream by the resume anti-join under the
        # single-writer assumption (Iceberg OCC would enforce it with
        # concurrent writers); orphaned blocks from an uncommitted run
        # remain invisible because their run_id has no manifest row;
        # maintenance-superseded triples are hidden by their 'retired' row.
        return io.read(BLOCKS, BLOCKS_STORED_SCHEMA).join(self.visible, TRIPLE, "left_semi")

    def bucket_predicates(self, conv_id: str) -> list | None:
        """The bucket ``conv_id`` hashes to under every bucketing a
        visible run recorded in ``table_meta``, as constant expressions
        (``pmod(xxhash64(lit), nb)``) that Catalyst folds into literals
        before the blocks scan's filter pushdown — no job. None when
        some visible run has no ``table_meta`` row (a legacy-engine
        crash between the manifest and meta appends; the current
        engine writes meta first): pruning by the other runs'
        bucketings would silently miss its rows."""
        if self._visible_runs is None:
            self._visible_runs = {
                r["run_id"] for r in self.visible.select("run_id").distinct().collect()
            }
        recorded = {(run, nb) for run, nb, _v in self._meta if run in self._visible_runs}
        if (
            not self._visible_runs
            or {run for run, _nb in recorded} != self._visible_runs
            or any(nb is None for _run, nb in recorded)
        ):
            return None
        return [
            F.pmod(F.xxhash64(F.lit(conv_id)), F.lit(nb)).cast("int")
            for nb in sorted({nb for _run, nb in recorded})
        ]


def visible_triples(io) -> DataFrame:
    """(bucket, salt, run_id) triples readers may see (``ReadSnapshot``)."""
    return ReadSnapshot(io).visible


def committed_blocks(io) -> DataFrame:
    """Blocks visible to readers (``ReadSnapshot.blocks``)."""
    return ReadSnapshot(io).blocks()


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
