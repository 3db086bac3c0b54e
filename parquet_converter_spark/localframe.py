"""Driver-local DataFrame constructors that bypass the Python-RDD path.

``spark.createDataFrame(list_of_rows)`` parallelizes the rows into a
pickled Python RDD with ``defaultParallelism`` slices; every downstream
action then round-trips the JVM↔Python boundary once per slice — a
16-row metadata frame costs seconds to evaluate on a 32-core master
(measured: 2.6 s for ``count()``, ~6 s for ``coalesce(1).write``).
These helpers keep metadata-sized frames on the fast paths:

* :func:`arrow_rows` — driver-local rows as a ``pyarrow.Table`` under a
  Spark schema, converted exactly as ``createDataFrame`` would;
  ``TableIO.append`` takes it directly, so a TableIO-managed metadata
  table (``table_meta``, ``manifest``, ``metrics``) on the driver's
  filesystem is written by pyarrow with no Spark job;
* :func:`local_df` — the same rows as a DataFrame via Arrow (a JVM
  LocalRelation: ~0.2 s evaluation, no Python workers);
* :func:`empty_df` — an empty frame with exactly the given schema, as
  an empty Arrow local relation (no RDD at all);
* :func:`write_local_parquet` — write a pyarrow table as a fresh ONE-file
  parquet directory (no Spark job; for driver-owned metadata
  directories like index centroids);
* :func:`driver_fs_path` — whether a Spark path is on the driver's own
  filesystem, the precondition of every driver-side pyarrow read or
  write.

Only for METADATA-sized data (centroids, manifests rows, summaries):
anything row-scale must stay distributed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def empty_df(spark: SparkSession, schema: StructType) -> DataFrame:
    """Empty DataFrame whose schema EQUALS ``schema`` — nullability and
    field metadata included — as an empty Arrow local relation: no
    Python RDD, and evaluating it schedules no job."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    return spark.createDataFrame(
        pa.Table.from_batches([], schema=to_arrow_schema(schema)), schema
    )


def arrow_rows(rows, schema):
    """Driver-local rows → ``pyarrow.Table`` under the Arrow form of the
    Spark ``schema`` (a StructType or DDL string), value for value what
    ``createDataFrame(rows, schema)`` holds: each column is built with
    ``pa.array(values, type, from_pandas=False)``, so NaN stays NaN
    (pandas semantics would turn it into null) and int64 values stay
    exact when mixed with None (a pandas column would carry them
    through float64); timestamps follow ``TimestampType.toInternal``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import TimestampType

    schema = _struct(schema)
    names = [f.name for f in schema.fields]
    if rows and {len(r) for r in rows} != {len(names)}:
        # fail like createDataFrame(rows, schema) would — a silent
        # zip() truncation would ship arity bugs into metadata tables
        raise ValueError(
            f"arrow_rows: row arity {sorted({len(r) for r in rows})} != "
            f"schema arity {len(names)}"
        )

    def _column(values, field, arrow_type):
        if isinstance(field.dataType, TimestampType):
            # plain createDataFrame(list) interprets NAIVE datetimes in
            # the SYSTEM-local zone, while pyarrow reads any datetime's
            # wall clock as UTC and drops its offset — convert with the
            # replaced constructor's own rule to epoch microseconds
            values = [field.dataType.toInternal(v) for v in values]
        return pa.array(values, arrow_type, from_pandas=False)

    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [[] for _ in names]
    return pa.Table.from_arrays(
        [
            _column(list(col), f, af.type)
            for col, f, af in zip(columns, schema.fields, arrow_schema)
        ],
        schema=arrow_schema,
    )


def _struct(schema) -> StructType:
    if isinstance(schema, str):
        from pyspark.sql.types import _parse_datatype_string

        return _parse_datatype_string(schema)
    return schema


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Driver-local rows → DataFrame via an Arrow local relation.

    ``rows`` is a list of tuples (as for ``createDataFrame``); ``schema``
    a StructType or DDL string. The result equals
    ``createDataFrame(rows, schema)`` value for value (``arrow_rows``).
    Falls back to the plain constructor if Arrow rejects the data (never
    silently wrong)."""
    schema = _struct(schema)
    if not rows:
        return empty_df(spark, schema)
    table = arrow_rows(rows, schema)  # arity errors raise here
    try:
        return spark.createDataFrame(table, schema)
    except Exception:  # pragma: no cover — conversion edge cases
        return spark.createDataFrame(rows, schema)


def write_local_parquet(path: str, table) -> None:
    """Write a pyarrow Table as ``<path>/part-00000.parquet`` (fresh
    directory), readable by ``spark.read.parquet(path)``. Driver-side
    only — no Spark job; use for tiny driver-owned metadata."""
    import os
    import shutil

    import pyarrow.parquet as pq

    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"), compression="snappy")


def driver_fs_path(spark: SparkSession, path: str) -> str | None:
    """Driver filesystem path of ``path`` when Spark resolves it to the
    local filesystem: an explicit ``file://`` URI, or a scheme-less path
    while the Hadoop default filesystem is local. None otherwise — Spark
    resolves a scheme-less path against ``fs.defaultFS`` (hdfs://,
    s3a://…), so driver-side pyarrow I/O on it would read or write a
    different filesystem than Spark's."""
    from urllib.parse import urlparse

    u = urlparse(path)
    if u.scheme == "file":
        return u.path
    if u.scheme:
        return None
    default_fs = spark.sparkContext._jsc.hadoopConfiguration().get(  # noqa: SLF001
        "fs.defaultFS", "file:///"
    )
    return path if urlparse(default_fs).scheme in ("", "file") else None
