"""The engine's PySpark daemon: workers keep zip-archive directories
cached across ``importlib.invalidate_caches()`` unless the archive
changed, and files shipped with ``addPyFile`` stay importable."""

import os
import sys
import uuid
import zipfile
import zipimport

import pytest

from spatialsketch_spark import daemon

needs_patch = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13 invalidates zip directories lazily itself")


def _write_zip(path, modules: dict):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@needs_patch
def test_changed_zip_is_reread(tmp_path, monkeypatch):
    """An unchanged archive is not re-read; a rewritten one (new size, or
    the same size with a new mtime) is, and its new modules are found."""
    monkeypatch.setattr(zipimport, "_read_directory",
                        zipimport._read_directory)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    daemon.patch_zipimport()
    reads = []
    patched = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda a: reads.append(a) or patched(a))
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"mod_a": "X = 1\n"})
    try:
        imp = zipimport.zipimporter(path)
        assert len(reads) == 1
        imp.invalidate_caches()
        assert len(reads) == 1
        _write_zip(path, {"mod_a": "X = 1\n", "mod_b": "X = 2\n"})
        imp.invalidate_caches()
        assert len(reads) == 2 and imp.find_spec("mod_b") is not None
        st = os.stat(path)
        _write_zip(path, {"mod_a": "X = 1\n", "mod_c": "X = 2\n"})
        assert os.stat(path).st_size == st.st_size
        os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10 ** 9))
        imp.invalidate_caches()
        assert len(reads) == 3 and imp.find_spec("mod_c") is not None
        assert imp.find_spec("mod_b") is None
    finally:
        zipimport._zip_directory_cache.pop(path, None)


@needs_patch
def test_workers_run_engine_daemon(spark):
    """A task runs the daemon's invalidate_caches, and a second
    importlib.invalidate_caches() in it re-reads no unchanged archive."""
    def probe(_):
        import importlib
        import zipimport as zi
        reads = []
        inner = zi._read_directory
        zi._read_directory = lambda a: reads.append(a) or inner(a)
        try:
            importlib.invalidate_caches()
        finally:
            zi._read_directory = inner
        archives = {f.archive for f in sys.path_importer_cache.values()
                    if isinstance(f, zi.zipimporter)}
        yield (zi.zipimporter.invalidate_caches.__code__.co_filename,
               len(reads), len(archives))

    (code, reads, archives), = spark.sparkContext.parallelize(
        [0], 1).mapPartitions(probe).collect()
    assert code.endswith(os.path.join("spatialsketch_spark", "daemon.py"))
    assert archives >= 1
    assert reads == 0


def test_add_py_file_after_workers_started(spark, tmp_path):
    sc = spark.sparkContext
    assert sc.parallelize(range(4), 2).sum() == 6      # workers are up
    name = f"shipped_{uuid.uuid4().hex}"
    path = str(tmp_path / f"{name}.zip")
    _write_zip(path, {name: "VALUE = 41\n"})
    sc.addPyFile(path)

    def read(_):
        import importlib
        yield importlib.import_module(name).VALUE

    assert sc.parallelize([0], 1).mapPartitions(read).collect() == [41]
