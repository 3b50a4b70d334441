"""The local worker daemon (``qsvspark.workerd``): a zip archive is re-read
on ``invalidate_caches()`` only when the file changed since the importer
last read it."""

from __future__ import annotations

import importlib.util
import os
import sys
import zipfile
import zipimport

import pytest

from qsvspark import workerd


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    path = tmp_path / "lib.zip"
    _write_zip(path, {"qsv_zip_a.py": "X = 1\n"})
    imp = zipimport.zipimporter(str(path))
    workerd.invalidate_caches(imp)  # stamps what it read

    reads = []
    read_directory = zipimport._read_directory  # noqa: SLF001
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda archive: reads.append(archive) or read_directory(archive))
    for _ in range(3):
        workerd.invalidate_caches(imp)
    assert imp.find_spec("qsv_zip_a") is not None
    assert reads == []

    st = os.stat(path)
    _write_zip(path, {"qsv_zip_a.py": "X = 1\n", "qsv_zip_b.py": "Y = 2\n"})
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    workerd.invalidate_caches(imp)
    spec = imp.find_spec("qsv_zip_b")
    assert reads == [str(path)]
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.Y == 2


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="CPython 3.13 invalidates zip caches lazily itself")
def test_local_workers_run_the_rule(spark):
    """A task's own importlib.invalidate_caches() reads no archive."""

    def probe(batches):
        import importlib
        import zipimport

        import pyarrow as pa

        reads = []
        read_directory = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or read_directory(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "rule": [zipimport.zipimporter.invalidate_caches.__code__.co_filename],
            "reads": [len(reads)],
        })

    (row,) = spark.range(1, numPartitions=1).mapInArrow(probe, "rule string, reads long").collect()
    assert row["rule"] == workerd.invalidate_caches.__code__.co_filename
    assert row["reads"] == 0
