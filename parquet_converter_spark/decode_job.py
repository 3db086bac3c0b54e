"""The decode pipeline: committed blocks → reconstructed transcript rows.

``mapInArrow`` over block rows — each block row expands to up to
chunk_rows transcript rows, all decoded with the vectorized numpy
kernels (no per-row Python). Decode is embarrassingly parallel: no
shuffle at all; global order is re-established only where a consumer
asks for it (verification sorts by (conv_id, turn_idx)).

Each public read (``decode_table``, ``decode_time_slice``,
``decode_conversation``, ``corrupt_blocks``) opens ONE
``checkpoint.ReadSnapshot``, which answers the format gate, the visible
triple set and a point lookup's candidate buckets. On a local table
whose manifest holds at most ``checkpoint.DRIVER_MANIFEST_ROWS`` rows
and ``checkpoint.DRIVER_VISIBLE_ROWS`` visible triples that costs no
Spark job, so a full decode runs two: the broadcast of the visible set
and the consumer's own action. Other tables resolve visibility with one
distributed aggregate inside the same plan (checkpoint docstring).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from . import checkpoint as ckpt
from .codecs.blocks import decode_block
from .schema import ENCODED_COLUMNS, TRANSCRIPT_SCHEMA


def decode_table(
    spark: SparkSession,
    io,
    buckets: list[int] | None = None,
    columns: list[str] | None = None,
    arrow_native: bool = True,
    on_error: str = "raise",
    ts_range: tuple | None = None,
    conv_range: tuple | None = None,
    skip_all_null_ts_blocks: bool = False,
) -> DataFrame:
    """Read committed blocks and reconstruct the transcript DataFrame.

    ``buckets`` selects a subset of hash buckets — the predicate lands
    on the blocks parquet scan (partition-level pushdown), so a
    selective decode of one bucket reads ~1/num_buckets of the data.
    ``columns`` projects a subset of columns — only those columns'
    binary blocks are READ at all (parquet column pruning on the
    blocks table), the columnar payoff of per-column blocks.
    ``ts_range=(lo, hi)`` prunes on the per-block ZONE MAPS: only
    blocks whose [ts_min, ts_max] interval overlaps [lo, hi] decode at
    all (blocks with null stats — all-null ts or tables written before
    zone maps — are kept conservatively). This is BLOCK skipping, not
    a row filter: rows outside the range within an overlapping block
    still decode; use ``decode_time_slice`` for the exact-slice
    composition. ``skip_all_null_ts_blocks=True`` additionally drops
    blocks whose ts_nulls stat proves every row's ts is null — ONLY
    sound under a downstream exact ts filter (null ts never matches a
    range predicate); plain block-skip decode keeps them so callers
    relying on the conservative superset (retention proofs, CLI
    --ts-from without exact filtering) still see null-ts rows. ``conv_range=(lo, hi)`` is the same block-skipping
    test on the conv_id zone maps (sorted groups make them tight);
    ``decode_conversation`` uses it as a point interval.
    ``on_error='skip'`` is the decode analog of encode's per-group
    error isolation (reference ignore_errors, converter.py:226-233): a
    corrupt block drops that block row's rows (ALL its columns — never
    misaligned partial columns) instead of failing the job; use
    ``corrupt_blocks`` to locate and diagnose the damage.
    A table written by a newer engine format raises ``ValueError``
    before any block is read.
    """
    return _decode(
        ckpt.ReadSnapshot(io), buckets=buckets, columns=columns,
        arrow_native=arrow_native, on_error=on_error, ts_range=ts_range,
        conv_range=conv_range, skip_all_null_ts_blocks=skip_all_null_ts_blocks,
    )


def _decode(
    snap,
    buckets: list | None = None,
    columns: list[str] | None = None,
    arrow_native: bool = True,
    on_error: str = "raise",
    ts_range: tuple | None = None,
    conv_range: tuple | None = None,
    skip_all_null_ts_blocks: bool = False,
) -> DataFrame:
    """``decode_table`` over an open snapshot; ``buckets`` may hold
    constant Column expressions (``ReadSnapshot.bucket_predicates``)."""
    from pyspark.sql import Column, functions as F

    if on_error not in ("raise", "skip"):
        raise ValueError(f"on_error must be 'raise' or 'skip', got {on_error!r}")
    cols = list(columns) if columns is not None else list(ENCODED_COLUMNS)
    unknown = set(cols) - set(ENCODED_COLUMNS)
    if unknown:
        raise ValueError(f"unknown columns: {sorted(unknown)}")
    blocks = snap.blocks()
    if buckets is not None:
        blocks = blocks.where(
            F.col("bucket").isin([b if isinstance(b, Column) else int(b) for b in buckets])
        )
    if ts_range is not None:
        lo, hi = ts_range
        # interval overlap; null stats (legacy/all-null blocks) pass.
        # ts_min/ts_max are plain parquet columns, so this predicate
        # also drives parquet row-group pruning on the blocks scan.
        overlap = (F.col("ts_min").isNull() | (F.col("ts_min") <= F.lit(hi))) & (
            F.col("ts_max").isNull() | (F.col("ts_max") >= F.lit(lo))
        )
        if skip_all_null_ts_blocks:
            # ts_nulls == n_rows PROVES the block holds no row a ts
            # predicate can match — sound only when the caller applies
            # an exact ts filter downstream (decode_time_slice), since
            # SQL range predicates exclude null ts. eqNullSafe: a null
            # ts_nulls stat (legacy block) proves nothing → kept. On a
            # time-clustered table this prunes the null-ts sentinel
            # window's blocks, which would otherwise be touched by
            # EVERY slice query forever.
            overlap &= ~F.col("ts_nulls").eqNullSafe(F.col("n_rows"))
        blocks = blocks.where(overlap)
    if conv_range is not None:
        clo, chi = conv_range
        # conv zone maps come free from the group sort; same
        # null-conservative overlap test as ts_range
        blocks = blocks.where(
            (F.col("conv_min").isNull() | (F.col("conv_min") <= F.lit(chi)))
            & (F.col("conv_max").isNull() | (F.col("conv_max") >= F.lit(clo)))
        )
    return _decode_blocks(blocks, cols, on_error == "skip", arrow_native)


def _decode_blocks(
    blocks: DataFrame, cols: list[str], skip_errors: bool = False, arrow_native: bool = True
) -> DataFrame:
    """Block rows (already scoped by the caller) → transcript rows of
    ``cols``: the one decode mapper of every read path, maintenance's
    scoped rewrites included. Only the ``cols`` binary columns are
    selected, so the blocks scan reads no other block bytes."""
    import pyspark.sql.types as T

    out_schema = T.StructType([TRANSCRIPT_SCHEMA[c] for c in cols])
    blocks = blocks.select(*[f"{c}_blk" for c in cols])
    if arrow_native:
        return blocks.mapInArrow(_decode_batches_arrow_cols(cols, skip_errors), schema=out_schema)
    return blocks.mapInPandas(_decode_batches_cols(cols, skip_errors), schema=out_schema)


def _decode_batches_cols(cols: list[str], skip_errors: bool = False):
    def fn(iterator: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in iterator:
            for _, row in pdf.iterrows():
                out = {}
                try:
                    for col in cols:
                        series, _codec = decode_block(bytes(row[f"{col}_blk"]))
                        out[col] = series.reset_index(drop=True)
                    # cross-column guard: corrupted row counts that decode
                    # without raising must NOT NaN-pad via index alignment
                    lens = {c: len(s) for c, s in out.items()}
                    if len(set(lens.values())) > 1:
                        raise ValueError(f"column length mismatch in block: {lens}")
                except Exception:
                    if skip_errors:
                        continue
                    raise
                yield pd.DataFrame(out)

    return fn


def _decode_batches_arrow_cols(cols: list[str], skip_errors: bool = False):
    def fn(iterator):
        import pyarrow as pa

        from .codecs.arrow_blocks import decode_block_arrow
        from .schema import COLUMN_DTYPES

        for batch in iterator:
            d = batch.to_pydict()
            for i in range(batch.num_rows):
                try:
                    arrays = []
                    for col in cols:
                        arr, _codec = decode_block_arrow(bytes(d[f"{col}_blk"][i]))
                        if COLUMN_DTYPES[col] == "str":
                            arr = arr.cast(pa.string())
                        arrays.append(arr)
                    lens = {c: len(a) for c, a in zip(cols, arrays)}
                    if len(set(lens.values())) > 1:
                        raise ValueError(f"column length mismatch in block: {lens}")
                    # constructed INSIDE the try so skip mode isolates a
                    # block whose corruption only surfaces at assembly
                    rb = pa.RecordBatch.from_arrays(arrays, names=cols)
                except Exception:
                    if skip_errors:
                        continue
                    raise
                yield rb

    return fn


def corrupt_blocks(spark: SparkSession, io) -> DataFrame:
    """Diagnostic scan: try-decode every committed block and report the
    failures as (bucket, salt, chunk, column, error) rows. Distributed
    mapInPandas, one pass over the blocks table; empty result = clean."""

    def probe(iterator: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in iterator:
            rows = []
            for _, row in pdf.iterrows():
                for col in ENCODED_COLUMNS:
                    try:
                        decode_block(bytes(row[f"{col}_blk"]))
                    except Exception as exc:  # noqa: BLE001 — diagnostic surface
                        rows.append(
                            {
                                "bucket": int(row["bucket"]),
                                "salt": int(row["salt"]),
                                "chunk": int(row["chunk"]),
                                "column": col,
                                "error": repr(exc)[:500],
                            }
                        )
            yield pd.DataFrame(
                rows,
                columns=["bucket", "salt", "chunk", "column", "error"],
            )

    blocks = ckpt.ReadSnapshot(io).blocks().select(
        "bucket", "salt", "chunk", *[f"{c}_blk" for c in ENCODED_COLUMNS]
    )
    return blocks.mapInPandas(
        probe, "bucket int, salt long, chunk int, column string, error string"
    )


def decode_time_slice(
    spark: SparkSession,
    io,
    lo,
    hi,
    columns: list[str] | None = None,
    arrow_native: bool = True,
    on_error: str = "raise",
) -> DataFrame:
    """Exact time-window decode: zone-map block skipping + the exact
    row filter on the decoded output. At 10^12 turns a narrow window
    touches only the blocks whose [ts_min, ts_max] overlap it —
    typically a tiny fraction — instead of decoding the whole table
    and filtering."""
    from pyspark.sql import functions as F

    cols = columns
    if cols is not None and "ts" not in cols:
        cols = [*cols, "ts"]  # the exact filter needs ts; keep caller's projection after
    df = decode_table(
        spark, io, columns=cols, arrow_native=arrow_native,
        on_error=on_error, ts_range=(lo, hi),
        # the exact row filter below excludes null ts, so blocks proven
        # all-null by their ts_nulls stat are skipped, not decoded
        skip_all_null_ts_blocks=True,
    )
    df = df.where((F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi)))
    if columns is not None and "ts" not in columns:
        df = df.select(*columns)
    return df


def decode_conversation(
    spark: SparkSession,
    io,
    conv_id: str,
    arrow_native: bool = True,
    on_error: str = "raise",
    ts_range: tuple | None = None,
) -> DataFrame:
    """Point lookup: decode one conversation's turns.

    Uses the engine's own partitioning as an index: candidate buckets =
    {pmod(xxhash64(conv_id), nb) for every bucketing a visible run
    recorded (the snapshot's table_meta rows)} → blocks scan prunes to
    those buckets → final row filter. The candidates are constant
    expressions Catalyst folds into the scan's pushed filter, and
    visibility is resolved once, so no job runs before the decode. At
    10^12 turns this touches ~1/num_buckets of the table instead of
    all of it. ``ts_range=(lo, hi)`` composes the time-slice
    selector on top: ts zone maps prune further and the exact window
    filter applies to the decoded rows (CLI: --conv-id with
    --ts-from/--ts-to)."""
    from pyspark.sql import functions as F

    snap = ckpt.ReadSnapshot(io)
    # tables written before table_meta existed (or with meta-less
    # visible runs) fall back to a full scan; within the candidate
    # buckets, conv zone maps prune further — only blocks whose
    # [conv_min, conv_max] covers this id decode at all
    df = _decode(
        snap, buckets=snap.bucket_predicates(conv_id), arrow_native=arrow_native,
        on_error=on_error, conv_range=(conv_id, conv_id), ts_range=ts_range,
    )
    df = df.where(F.col("conv_id") == conv_id)
    if ts_range is not None:
        lo, hi = ts_range
        df = df.where((F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi)))
    return df
