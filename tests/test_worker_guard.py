"""The worker-side zip-directory guard (`open_source_search_engine_spark.
_guard_zip_directory_reads`): `importlib.invalidate_caches()` re-reads a
zip archive's central directory only when the archive changed."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

import open_source_search_engine_spark as pkg


def _count_directory_reads(fn) -> int:
    """Number of `zipimport._read_directory` calls made while fn runs."""
    calls = [0]
    read = zipimport._read_directory

    def counting(path):
        calls[0] += 1
        return read(path)

    zipimport._read_directory = counting
    try:
        fn()
    finally:
        zipimport._read_directory = read
    return calls[0]


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="3.13+ zipimport re-reads lazily")
def test_guard_skips_unchanged_archive_and_sees_rewrite(tmp_path,
                                                        monkeypatch):
    # restore the unguarded method when the test ends
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    a, b = "osse_guard_probe_a", "osse_guard_probe_b"
    for name in (a, b):
        monkeypatch.delitem(sys.modules, name, raising=False)
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, {a: "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.path_importer_cache, archive, raising=False)
    monkeypatch.delitem(zipimport._zip_directory_cache, archive,
                        raising=False)
    assert importlib.import_module(a).X == 1

    assert pkg._guard_zip_directory_reads()
    assert hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")
    # the first call after install reads each archive once and records
    # its stamp; an unchanged archive is never read again
    importlib.invalidate_caches()
    assert _count_directory_reads(importlib.invalidate_caches) == 0
    assert _count_directory_reads(importlib.invalidate_caches) == 0

    _write_zip(archive, {a: "X = 1\n", b: "Y = 2\n"})
    assert _count_directory_reads(importlib.invalidate_caches) >= 1
    assert importlib.import_module(b).Y == 2
    assert _count_directory_reads(importlib.invalidate_caches) == 0


@pytest.mark.skipif(sys.version_info < (3, 13),
                    reason="the guard is installed below 3.13")
def test_guard_is_noop_from_python_313():
    assert not pkg._guard_zip_directory_reads()
    assert not hasattr(zipimport.zipimporter.invalidate_caches,
                       "__wrapped__")


def test_worker_invalidate_caches_reads_no_zip_directory(spark):
    """Two passes of a 4-partition mapInPandas that imports the engine:
    every worker has the guard, and a worker that had it before the task
    started (so the worker's own pre-task `invalidate_caches()` already
    ran through it) re-reads no zip directory in `invalidate_caches()`."""
    import pandas as pd

    # nested, so cloudpickle ships it by value: the workers need not
    # import this test module (hence no `_count_directory_reads` here)
    def probe(batches):
        import importlib as il
        import zipimport as zi

        # nothing in this task has imported the engine yet
        warm = hasattr(zi.zipimporter.invalidate_caches, "__wrapped__")
        import open_source_search_engine_spark  # noqa: F401

        calls = [0]
        read = zi._read_directory

        def counting(path):
            calls[0] += 1
            return read(path)

        zi._read_directory = counting
        try:
            il.invalidate_caches()
        finally:
            zi._read_directory = read
        for _ in batches:
            pass
        yield pd.DataFrame({
            "warm": [warm],
            "guarded": [hasattr(zi.zipimporter.invalidate_caches,
                                "__wrapped__")],
            "reads": [calls[0]]})

    df = spark.range(0, 400, numPartitions=4)
    schema = "warm boolean, guarded boolean, reads long"
    first = df.mapInPandas(probe, schema).collect()
    second = df.mapInPandas(probe, schema).collect()

    # the driver is not a Spark task, so importing the package there
    # leaves zipimport alone
    assert not hasattr(zipimport.zipimporter.invalidate_caches,
                       "__wrapped__")
    if sys.version_info >= (3, 13):
        assert not any(r.guarded for r in first + second)
        return
    assert len(first) == len(second) == 4
    assert all(r.guarded for r in first + second)
    warm = [r.reads for r in first + second if r.warm]
    assert warm, "no task ran on a worker that already had the guard"
    assert warm == [0] * len(warm)
