"""TableIO seam: Iceberg when the runtime jar is present, plain
parquet-dir tables otherwise (SURVEY.md §7.0).

The resume/commit semantics do NOT depend on Iceberg features: the
manifest append is the commit point, and readers only see block files
whose (bucket, salt, run_id) is committed in the manifest — a
snapshot-isolation discipline that works identically on a parquet
directory and on an Iceberg table. On a real cluster with the
iceberg-spark-runtime jar, ``IcebergTableIO`` maps the same calls to
``writeTo(...).append()`` on a catalog table.

``append`` takes a DataFrame or a driver-sized ``pyarrow.Table`` (the
engine's metadata rows). A parquet-dir table whose root is on the
driver's filesystem writes the Arrow table as ONE parquet file with
pyarrow, no Spark job: first under a hidden ``.``-prefixed name, then
``os.replace``-d into the table directory, so Spark's file listing,
pyarrow datasets and ``exists`` never see a partial file. Every other
table wraps it in an Arrow local relation and appends as usual.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession


def _frame(spark: SparkSession, data) -> DataFrame:
    """``data`` as a DataFrame: an Arrow table becomes a local relation
    whose schema is read off its Arrow schema (nullability included)."""
    return data if isinstance(data, DataFrame) else spark.createDataFrame(data)


def driver_root(io) -> str | None:
    """The driver filesystem path of a parquet-dir table's root, or None
    (Iceberg, a remote filesystem): the precondition of every driver-side
    pyarrow read or write of the table's metadata."""
    return io.driver_root() if isinstance(io, ParquetDirTableIO) else None


def iceberg_available(spark: SparkSession) -> bool:
    # NB: attribute access on spark._jvm returns a JavaPackage for missing
    # classes instead of raising — must resolve via Class.forName.
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


class ParquetDirTableIO:
    """Filesystem-table fallback with append + overwrite + exists."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def driver_root(self) -> str | None:
        from .localframe import driver_fs_path

        return driver_fs_path(self.spark, self.root)

    def exists(self, name: str) -> bool:
        p = self.path(name)
        return os.path.isdir(p) and any(
            f.endswith(".parquet") and not f.startswith((".", "_"))
            for f in os.listdir(p)
        )

    def read(self, name: str, schema=None) -> DataFrame:
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(self.path(name))

    def append(self, df, name: str, compression: str = "uncompressed") -> None:
        # uncompressed by default for the blocks table: the engine's own
        # codecs + zstd wrap ARE the compression; re-snappy-ing binary
        # blocks would blur the measured footprint.
        root = None if isinstance(df, DataFrame) else self.driver_root()
        if root is None:
            df = _frame(self.spark, df)
            df.write.mode("append").option("compression", compression).parquet(self.path(name))
            return
        import pyarrow.parquet as pq

        table_dir = os.path.join(root, name)
        os.makedirs(table_dir, exist_ok=True)
        codec = "none" if compression == "uncompressed" else compression
        part = f"part-00000-{uuid.uuid4()}-c000.parquet"
        tmp = os.path.join(table_dir, f".{part}.tmp")
        try:
            pq.write_table(df, tmp, compression=codec)
            os.replace(tmp, os.path.join(table_dir, part))
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)

    def overwrite(self, df: DataFrame, name: str, compression: str = "snappy") -> None:
        df.write.mode("overwrite").option("compression", compression).parquet(self.path(name))


def catalog_configured(spark: SparkSession, catalog: str) -> bool:
    """A jar on the classpath is not enough — the session must actually
    define ``spark.sql.catalog.<name>`` or every read/write fails at
    first use. Check the conf, not the classpath."""
    try:
        return spark.conf.get(f"spark.sql.catalog.{catalog}", None) is not None
    except Exception:
        return False


def namespace_for_root(root: str) -> str:
    """Derive a distinct Iceberg namespace from a table root so two
    different ``--out`` dirs never alias to the same catalog tables."""
    import re
    import zlib

    base = re.sub(r"[^A-Za-z0-9_]", "_", os.path.basename(os.path.normpath(root)) or "root")
    crc = zlib.crc32(os.path.abspath(root).encode()) & 0xFFFFFFFF
    return f"db_{base}_{crc:08x}"


#: storage-layer partition specs applied at Iceberg table CREATION:
#: the blocks table partitions by hash bucket, so a bucket-selective
#: decode (decode_table(buckets=[...]) / decode_conversation's pruned
#: point lookup) becomes file-level partition pruning in the catalog
#: instead of a row-filter over every data file
ICEBERG_PARTITION_SPECS: dict[str, list[str]] = {"blocks": ["bucket"]}


class IcebergTableIO:
    """Iceberg catalog tables (requires iceberg-spark-runtime on the
    classpath — not present in this sandbox; exercised on a real
    cluster via --packages org.apache.iceberg:iceberg-spark-runtime).

    The namespace is derived from the table root (``namespace_for_root``)
    unless given explicitly, so distinct roots map to distinct tables."""

    def __init__(self, spark: SparkSession, catalog: str, namespace: str):
        import re

        if not iceberg_available(spark):
            raise RuntimeError(
                "Iceberg runtime jar not on classpath; use ParquetDirTableIO"
            )
        if not catalog_configured(spark, catalog):
            raise RuntimeError(
                f"spark.sql.catalog.{catalog} is not configured in this session"
            )
        # identifiers are interpolated into SQL — restrict to safe chars
        # (explicit iceberg:// URIs bypass namespace_for_root's sanitizer)
        for ident in (catalog, namespace):
            if not re.fullmatch(r"[A-Za-z0-9_]+", ident):
                raise ValueError(
                    f"catalog/namespace must match [A-Za-z0-9_]+, got {ident!r}"
                )
        self.spark = spark
        self.catalog = catalog
        self.namespace = namespace
        self._ns_ready = False

    def _ensure_namespace(self) -> None:
        """DDL only on the first WRITE — read-only opens (decode/verify/
        report) must not mutate the catalog."""
        if not self._ns_ready:
            self.spark.sql(
                f"CREATE NAMESPACE IF NOT EXISTS `{self.catalog}`.`{self.namespace}`"
            )
            self._ns_ready = True

    def _ident(self, name: str) -> str:
        return f"{self.catalog}.{self.namespace}.{name}"

    def exists(self, name: str) -> bool:
        return self.spark.catalog.tableExists(self._ident(name))

    def read(self, name: str, schema=None) -> DataFrame:
        """Catalog read, reconciled against the caller's expected schema.

        Iceberg tables carry their own schema, so unlike the parquet-dir
        reader we cannot just impose ``schema`` on the scan — but the
        'legacy tables read null = keep' contract (zone-map columns
        added in a later engine version must read as null off a table
        created before them) still has to hold. Columns the caller
        expects but the table lacks are appended as typed null literals,
        and the projection is normalized to schema order so downstream
        code sees one shape regardless of table vintage.
        """
        df = self.spark.table(self._ident(name))
        if schema is None:
            return df
        from pyspark.sql import functions as F

        have = set(df.columns)
        out = [
            F.col(f.name) if f.name in have
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in schema.fields
        ]
        return df.select(*out)

    def _writer(self, df: DataFrame, name: str):
        """writeTo builder with the table's partition spec attached —
        only meaningful at create/replace time (Iceberg keeps the spec
        in table metadata afterwards)."""
        from pyspark.sql import functions as F

        w = df.writeTo(self._ident(name))
        cols = ICEBERG_PARTITION_SPECS.get(name)
        if cols:
            w = w.partitionedBy(*[F.col(c) for c in cols])
        return w

    def _evolve_schema(self, df: DataFrame, name: str) -> None:
        """Iceberg-native schema evolution for appends from a newer
        engine: columns the incoming frame has but the table lacks
        (e.g. zone-map stats appended to a pre-zone-map table) are
        ADDed before the append — Iceberg backfills them as null for
        existing rows, which is exactly the 'legacy blocks read null =
        keep' contract. Column names are engine-defined identifiers,
        validated here anyway since they land in DDL."""
        import re

        table_cols = {f.name for f in self.spark.table(self._ident(name)).schema.fields}
        missing = [f for f in df.schema.fields if f.name not in table_cols]
        if not missing:
            return
        for f in missing:
            if not re.fullmatch(r"[A-Za-z0-9_]+", f.name):
                raise ValueError(f"column name unsafe for DDL: {f.name!r}")
        cols_ddl = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in missing)
        self.spark.sql(
            f"ALTER TABLE {self._ident(name)} ADD COLUMNS ({cols_ddl})"
        )

    def append(self, df, name: str, compression: str = "uncompressed") -> None:
        df = _frame(self.spark, df)
        self._ensure_namespace()
        # parquet-dir append semantics: first append creates the table
        # (with its partition spec — bucket-partitioned blocks make
        # selective decode a storage-level prune)
        if not self.exists(name):
            self._writer(df, name).create()
        else:
            self._evolve_schema(df, name)
            df.writeTo(self._ident(name)).append()

    def overwrite(self, df: DataFrame, name: str, compression: str = "snappy") -> None:
        self._ensure_namespace()
        self._writer(df, name).createOrReplace()


#: conventional catalog name for auto-selected Iceberg roots
DEFAULT_CATALOG = "engine_cat"


def open_tableio(spark: SparkSession, root: str):
    """Resolve a table root to a TableIO.

    - ``iceberg://<catalog>/<namespace>`` selects Iceberg explicitly
      (raises if the jar or the catalog conf is missing — an explicit
      ask must not silently fall back to a filesystem dir).
    - A filesystem root upgrades to Iceberg only when BOTH the runtime
      jar is present AND ``spark.sql.catalog.engine_cat`` is configured;
      the namespace is derived from the root so distinct roots never
      alias. Otherwise: parquet-dir tables.
    """
    if root.startswith("iceberg://"):
        rest = root[len("iceberg://"):].strip("/")
        catalog, _, namespace = rest.partition("/")
        if not catalog or not namespace or "/" in namespace:
            raise ValueError(
                f"bad iceberg root {root!r}; expected iceberg://<catalog>/<namespace>"
            )
        return IcebergTableIO(spark, catalog, namespace)
    if iceberg_available(spark) and catalog_configured(spark, DEFAULT_CATALOG):
        # pragma: no cover - jar absent in sandbox
        return IcebergTableIO(spark, DEFAULT_CATALOG, namespace_for_root(root))
    return ParquetDirTableIO(spark, root)
