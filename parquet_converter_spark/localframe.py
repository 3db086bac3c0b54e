"""Driver-local DataFrame constructors that bypass the Python-RDD path.

``spark.createDataFrame(list_of_rows)`` parallelizes the rows into a
pickled Python RDD with ``defaultParallelism`` slices; every downstream
action then round-trips the JVM↔Python boundary once per slice — a
16-row metadata frame costs seconds to evaluate on a 32-core master
(measured: 2.6 s for ``count()``, ~6 s for ``coalesce(1).write``).
These helpers keep metadata-sized frames on the fast paths:

* :func:`local_df` — build via Arrow (a JVM LocalRelation: ~0.2 s
  evaluation, no Python workers);
* :func:`empty_df` — an empty frame with exactly the given schema, as
  an empty Arrow local relation (no RDD at all);
* :func:`write_local_parquet` — write driver-local rows as ONE parquet
  file via pyarrow directly (no Spark job; for driver-owned metadata
  directories like index centroids, not for ``TableIO``-managed
  tables);
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


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Driver-local rows → DataFrame via an Arrow local relation.

    ``rows`` is a list of tuples (as for ``createDataFrame``); ``schema``
    a StructType or DDL string. The result equals
    ``createDataFrame(rows, schema)`` value for value: each column is
    built with ``pa.array(values, type, from_pandas=False)``, so NaN
    stays NaN (pandas semantics would turn it into null) and int64
    values stay exact when mixed with None (a pandas column would carry
    them through float64). Falls back to the plain constructor if Arrow
    rejects the data (never silently wrong)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import TimestampType

    if isinstance(schema, str):
        from pyspark.sql.types import _parse_datatype_string

        schema = _parse_datatype_string(schema)
    if not rows:
        return empty_df(spark, schema)
    names = [f.name for f in schema.fields]
    if {len(r) for r in rows} != {len(names)}:
        # fail like createDataFrame(rows, schema) would — a silent
        # zip() truncation would ship arity bugs into metadata tables
        raise ValueError(
            f"local_df: row arity {sorted({len(r) for r in rows})} != "
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
    try:
        table = pa.Table.from_arrays(
            [
                _column(list(col), f, af.type)
                for col, f, af in zip(zip(*rows), schema.fields, arrow_schema)
            ],
            schema=arrow_schema,
        )
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
