"""Driver-local I/O fast paths must not change results.

* ``local_df`` (Arrow local relation) ≡ ``createDataFrame(rows)``
  value for value: NaN, ±inf, int64 beyond 2^53 next to None, and
  naive datetimes read in the system zone.
* The IVF index writes its centroids/meta with pyarrow only when Spark
  resolves the index dir to the local filesystem; under a non-local
  ``fs.defaultFS`` a scheme-less dir goes through the Spark writer, so
  vectors and metadata land on one filesystem.
"""

from __future__ import annotations

import time
from datetime import datetime, timezone

import numpy as np
import pytest

from parquet_converter_spark.localframe import driver_fs_path, local_df
from parquet_converter_spark.operators import similarity


@pytest.fixture()
def new_york_tz(monkeypatch):
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def test_local_df_matches_create_dataframe(spark, new_york_tz):
    big = 2**53 + 1
    nan, inf = float("nan"), float("inf")
    rows = [
        (nan, big, datetime(2024, 3, 10, 2, 30), [nan, 1.0]),  # DST gap
        (inf, None, datetime(2024, 7, 1, 12, 0, 0, 123456), None),
        (-inf, -big, datetime(2024, 1, 1, tzinfo=timezone.utc), []),
        (None, 0, None, [-inf]),
        (1.5, big + 2, datetime(2024, 11, 3, 1, 30), [inf]),  # DST fold
    ]
    schema = "d double, i bigint, t timestamp, a array<double>"
    fast = local_df(spark, rows, schema)
    # the Arrow local relation, not the plain-constructor fallback
    assert "LocalRelation" in fast._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    # repr: NaN never equals itself, and naive/aware or int/float
    # drifts would compare equal under ==
    got = [repr(tuple(r)) for r in fast.collect()]
    want = [repr(tuple(r)) for r in spark.createDataFrame(rows, schema).collect()]
    assert got == want
    assert "nan" in got[0] and str(big) in got[0] and "inf" in got[1]


def test_ivf_index_metadata_follows_non_local_default_fs(spark, tmp_path, monkeypatch):
    """A scheme-less index dir under a non-local default filesystem
    (here viewfs, mounted onto the local tmp dir so the test needs no
    cluster) must take the Spark writer for centroids/meta, and the
    query must read them back through Spark."""
    from parquet_converter_spark import localframe

    def no_driver_write(*a, **k):  # pragma: no cover - failure path
        raise AssertionError("pyarrow metadata write under a non-local fs.defaultFS")

    monkeypatch.setattr(localframe, "write_local_parquet", no_driver_write)
    rng = np.random.default_rng(3)
    axes = np.eye(4)[:2]
    rows = [(i, (axes[i % 2] + 0.05 * rng.standard_normal(4)).tolist()) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx = str(tmp_path / "idx")
    top = "/" + tmp_path.parts[1]

    hconf = spark.sparkContext._jsc.hadoopConfiguration()  # noqa: SLF001
    prior = hconf.get("fs.defaultFS")
    hconf.set(f"fs.viewfs.mounttable.pcstest.link.{top}", f"file://{top}")
    hconf.set("fs.defaultFS", "viewfs://pcstest/")
    try:
        assert driver_fs_path(spark, idx) is None
        assert driver_fs_path(spark, f"file://{idx}") == idx
        info = similarity.ivf_build_index(spark, df, idx, n_cells=2, sample_n=40)
        got = similarity.ivf_query(spark, idx, axes[0].tolist(), k=3, n_probe=1).collect()
    finally:
        hconf.set("fs.defaultFS", prior or "file:///")
        hconf.unset(f"fs.viewfs.mounttable.pcstest.link.{top}")
    assert info["cells"] == 2 and info["rows"] == 40
    assert len(got) == 3 and all(r["vec_id"] % 2 == 0 for r in got)
    # with the local default restored, the same dir is driver-local again
    assert driver_fs_path(spark, idx) == idx
