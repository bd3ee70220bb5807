"""Worker-runtime fix: ``importlib.invalidate_caches()`` re-reads a zip
archive's directory only when the archive changed on disk.
"""

import importlib
import sys
import zipfile
import zipimport

import numpy as np
import pytest

eager_zipimport = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="zipimporter.invalidate_caches is lazy from Python 3.12")


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name + ".py", src)


@eager_zipimport
def test_invalidate_caches_rereads_only_changed_archives(tmp_path, monkeypatch):
    from qfilter_spark import _pyworker

    # start from the unpatched method, as a fresh worker does
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        _pyworker._eager_invalidate)
    monkeypatch.setattr(_pyworker, "_read_at", {})
    archive = str(tmp_path / "mods.zip")
    late = str(tmp_path / "late.zip")
    _write_zip(archive, {"qfs_zip_a": "X = 1\n"})
    _write_zip(late, {"qfs_zip_late": "Z = 3\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("qfs_zip_a").X == 1
        _pyworker.install()
        assert zipimport.zipimporter.invalidate_caches is _pyworker._invalidate_caches

        reads = []
        read_directory = zipimport._read_directory
        monkeypatch.setattr(zipimport, "_read_directory",
                            lambda a: reads.append(a) or read_directory(a))
        importlib.invalidate_caches()
        assert reads == []

        # rewritten in place with one more module: re-read exactly once,
        # and the new module is importable
        _write_zip(archive, {"qfs_zip_a": "X = 1\n", "qfs_zip_b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads == [archive]
        assert importlib.import_module("qfs_zip_b").Y == 2

        # an archive first put on the path after install is read once by
        # the next invalidation, then no more while it stays unchanged
        monkeypatch.syspath_prepend(late)
        assert importlib.import_module("qfs_zip_late").Z == 3
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads == [late]
    finally:
        for name in ("qfs_zip_a", "qfs_zip_b", "qfs_zip_late"):
            sys.modules.pop(name, None)
        for path in (archive, late):
            sys.path_importer_cache.pop(path, None)
            zipimport._zip_directory_cache.pop(path, None)


@eager_zipimport
def test_worker_task_after_library_task_rereads_no_archive(spark):
    from qfilter_spark import sketches
    from qfilter_spark.dist.probe import probe_hashes

    bloom = sketches.create("bloom", capacity=64, fp_rate=0.01)
    bloom.update_hashes(np.arange(64, dtype=np.uint64))
    hashes = spark.range(0, 64, 1, 8).withColumnRenamed("id", "h")
    assert probe_hashes(hashes, bloom.to_bytes(), "h", as_bool=True) \
        .where("est_count").count() == 64

    def check(batches):
        import importlib
        import sys
        import zipimport

        import pyarrow as pa
        warm = "qfilter_spark" in sys.modules
        n_zip = sum(isinstance(imp, zipimport.zipimporter)
                    for imp in sys.path_importer_cache.values())
        reads = []
        read_directory = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or read_directory(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        method = zipimport.zipimporter.invalidate_caches.__module__
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "warm": [warm], "n_zip": [n_zip], "reads": [len(reads)],
            "method": [method]})

    rows = spark.range(0, 8, 1, 8).mapInArrow(
        check, "warm boolean, n_zip long, reads long, method string").collect()
    warm = [r for r in rows if r.warm]
    assert warm, rows
    for r in warm:
        assert r.n_zip > 0, r
        assert r.method == "qfilter_spark._pyworker", r
        assert r.reads == 0, r
