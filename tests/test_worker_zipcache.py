"""The PySpark worker's per-task ``importlib.invalidate_caches()`` must
re-read a zip archive only when it changed (hand_index_spark._worker)."""

from __future__ import annotations

import importlib.util
import os
import zipfile
import zipimport

import pytest

from hand_index_spark import _worker


@pytest.fixture
def wrapper(monkeypatch):
    """Install the wrapper for one test; monkeypatch restores the
    original ``invalidate_caches`` and read stamps afterwards."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(_worker, "_read_at", {})
    _worker.install()
    reads = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def _load(importer, name):
    spec = importer.find_spec(name)
    assert spec is not None, name
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_unchanged_archive_not_reread(tmp_path, wrapper):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"a": "X = 1\n"})
    imp = zipimport.zipimporter(path)
    wrapper.clear()
    imp.invalidate_caches()  # first call reads: no stamp recorded yet
    assert wrapper == [path]
    wrapper.clear()
    for _ in range(3):
        imp.invalidate_caches()
    assert wrapper == []
    # a second importer of the same archive shares the cached directory
    other = zipimport.zipimporter(path)
    wrapper.clear()
    other.invalidate_caches()
    assert wrapper == []
    assert _load(other, "a").X == 1


def test_changed_archive_reread_and_install_idempotent(tmp_path, wrapper):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"a": "X = 1\n"})
    imp = zipimport.zipimporter(path)
    imp.invalidate_caches()
    assert imp.find_spec("b") is None
    st = os.stat(path)
    _write_zip(path, {"a": "X = 1\n", "b": "Y = 2\n"})
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    assert os.stat(path).st_size != st.st_size
    _worker.install()
    _worker.install()
    assert zipimport.zipimporter.invalidate_caches is _worker._invalidate_caches
    wrapper.clear()
    imp.invalidate_caches()
    assert wrapper == [path]
    assert _load(imp, "b").Y == 2


def test_installed_inside_spark_worker(spark):
    """A stage whose UDF references the package installs the wrapper in
    the worker that unpickles it; a later stage reports it from there."""
    import hand_index_spark

    pkg = hand_index_spark

    def report(batches):
        import pandas as pd

        assert pkg is not None  # unpickling this closure imported the package
        fn = zipimport.zipimporter.invalidate_caches
        for _ in batches:
            yield pd.DataFrame({"module": [fn.__module__]})

    df = spark.range(1, numPartitions=1)
    df.mapInPandas(report, "module string").collect()
    rows = df.mapInPandas(report, "module string").collect()
    assert [r.module for r in rows] == ["hand_index_spark._worker"]
