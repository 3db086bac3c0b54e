"""The engine's Python worker guard: its stat-guarded
``zipimporter.invalidate_caches`` skips unchanged archives, still re-reads
a changed one, is not installed on CPython 3.13+ or on the driver, and is
installed in every worker that runs an engine UDF, also when the engine
arrives with ``--py-files``."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

from parquet_converter_spark import pyworker

eager = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython 3.13+ invalidates zip caches lazily"
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def reads(monkeypatch):
    """Fresh guard state and a count of central-directory reads."""
    monkeypatch.setattr(pyworker, "_last_read", {})
    calls = []
    real = zipimport._read_directory

    def counting(path):
        calls.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@eager
def test_unchanged_archive_is_not_reread(tmp_path, reads):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["pcs_zip_a"])
    importer = zipimport.zipimporter(archive)
    pyworker.guarded_invalidate_caches(importer)
    assert reads == [archive, archive]  # construction, then the first read
    pyworker.guarded_invalidate_caches(importer)
    # a second importer of the same archive shares the read
    pyworker.guarded_invalidate_caches(zipimport.zipimporter(archive))
    assert reads == [archive, archive]
    assert importer.find_spec("pcs_zip_a") is not None


@eager
def test_rewritten_archive_is_reread_and_its_new_module_imports(
    tmp_path, reads, monkeypatch
):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["pcs_zip_b"])
    monkeypatch.syspath_prepend(archive)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        pyworker.guarded_invalidate_caches)
    for name in ("pcs_zip_b", "pcs_zip_c"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("pcs_zip_b").NAME == "pcs_zip_b"
    before = reads.count(archive)
    importlib.invalidate_caches()  # the guard's first read of the archive
    importlib.invalidate_caches()
    assert reads.count(archive) == before + 1

    before = len(reads)
    _write_zip(archive, ["pcs_zip_b", "pcs_zip_c"])
    importlib.invalidate_caches()
    assert reads[before:] == [archive]
    assert importlib.import_module("pcs_zip_c").NAME == "pcs_zip_c"


def test_install_patches_only_before_3_13(monkeypatch):
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert pyworker.install() is False
    assert zipimport.zipimporter.invalidate_caches is original
    monkeypatch.setattr(sys, "version_info", (3, 12, 1, "final", 0))
    assert pyworker.install() is True
    assert zipimport.zipimporter.invalidate_caches is pyworker.guarded_invalidate_caches


def test_driver_import_leaves_zipimporter_alone():
    assert zipimport.zipimporter.invalidate_caches is not pyworker.guarded_invalidate_caches


@eager
def test_engine_udf_installs_the_guard_in_its_worker(spark):
    """Unpickling a UDF that references the engine installs the guard in
    that task's worker. A reused worker reads each archive at most once on
    its first guarded invalidation and none after. The first task a worker
    runs here installs a read counter in it (it only counts); later tasks
    on that worker report the reads made since."""
    schema = pa.schema([
        ("pid", pa.int64()), ("task", pa.int64()), ("guarded", pa.bool_()),
        ("reads", pa.int64()), ("archives", pa.int64()),
    ])

    def probe(batches):
        import zipimport as zi

        # ``pyworker`` is pickled by reference: the worker imports the
        # engine while it unpickles this function, as for every engine UDF
        guarded = zi.zipimporter.invalidate_caches is pyworker.guarded_invalidate_caches
        state = getattr(zi, "_pcs_probe", None)
        if state is None:
            real = zi._read_directory
            zi._pcs_probe = state = {"tasks": 0, "reads": None}

            def counting(path):
                state["reads"].append(path)
                return real(path)

            zi._read_directory = counting
        reads, state["reads"] = state["reads"], []
        state["tasks"] += 1
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist([{
            "pid": os.getpid(), "task": state["tasks"], "guarded": guarded,
            "reads": None if reads is None else len(reads),
            "archives": None if reads is None else len(set(reads)),
        }], schema=schema)

    seen = []
    for _ in range(12):
        seen += spark.range(0, 8, 1, 4).mapInArrow(
            probe, "pid long, task long, guarded boolean, reads long, archives long"
        ).collect()
        if any(r["task"] >= 3 for r in seen):
            break
    assert all(r["guarded"] for r in seen)
    assert all(r["reads"] == r["archives"] for r in seen if r["task"] == 2)
    later = [r["reads"] for r in seen if r["task"] >= 3]
    assert later and set(later) == {0}


def test_engine_shipped_as_py_files_runs_its_udfs(tmp_path):
    """A driver that finds the engine only in a zip it ships with
    ``addPyFile`` (as ``spark-submit --py-files`` does) runs engine UDFs,
    which install the guard in their workers."""
    import subprocess
    import textwrap

    import parquet_converter_spark

    pkg = os.path.dirname(parquet_converter_spark.__file__)
    engine_zip = tmp_path / "engine.zip"
    with zipfile.ZipFile(engine_zip, "w") as z:
        for root, _, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, os.path.dirname(pkg)))
    script = tmp_path / "drive.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {str(engine_zip)!r})
        from parquet_converter_spark import pyworker
        from parquet_converter_spark.session import get_spark

        spark = get_spark(app="pcs-py-files", master="local[2]", shuffle_partitions=2)
        spark.sparkContext.addPyFile({str(engine_zip)!r})

        def probe(batches):
            import zipimport as zi

            import pyarrow as pa

            guarded = zi.zipimporter.invalidate_caches is pyworker.guarded_invalidate_caches
            for b in batches:
                yield b.append_column("guarded", pa.array([guarded] * b.num_rows))

        rows = spark.range(0, 4, 1, 2).mapInArrow(probe, "id long, guarded boolean").collect()
        print("ROWS", len(rows), all(r["guarded"] for r in rows) or sys.version_info >= (3, 13))
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert "ROWS 4 True" in out.stdout, out.stderr[-3000:]
