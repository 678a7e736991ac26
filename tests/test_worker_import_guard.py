"""The stat-keyed zip-import guard (``datafusion_geo_spark.__init__``):
``importlib.invalidate_caches()`` re-reads a zip archive's directory
only when the archive changed since that importer last read it, and
the package installs the guard in Spark's Python workers, never in the
driver."""
import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import datafusion_geo_spark as dgs


def _write_zip(path, value, pad=0):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zguard_mod.py", f"VALUE = {value!r}\n" + "#" * pad)


@pytest.fixture
def guarded(monkeypatch):
    """The guard installed for one test; the original method (and the
    ``_read_directory`` spy's target) restored after it."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    reads = []
    real = zipimport._read_directory

    def spy(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", spy)
    dgs._guard_zip_rereads()
    return reads


def test_guard_skips_unchanged_and_rereads_changed_archives(
        tmp_path, monkeypatch, guarded):
    arc = str(tmp_path / "zguard.zip")
    _write_zip(arc, 1)
    monkeypatch.syspath_prepend(arc)
    monkeypatch.delitem(sys.modules, "zguard_mod", raising=False)
    import zguard_mod
    assert zguard_mod.VALUE == 1

    def n_rereads():   # beyond the importer's own first read
        return sum(a == arc for a in guarded) - 1

    importlib.invalidate_caches()     # no stat recorded yet: one re-read
    assert n_rereads() == 1
    importlib.invalidate_caches()     # same archive: no re-read
    importlib.invalidate_caches()
    assert n_rereads() == 1

    _write_zip(arc, "changed", pad=100)   # new content and size
    importlib.invalidate_caches()
    assert n_rereads() == 2
    del sys.modules["zguard_mod"]
    import zguard_mod as again
    assert again.VALUE == "changed"
    importlib.invalidate_caches()
    assert n_rereads() == 2

    os.remove(arc)                    # stat fails: the plain re-read
    importlib.invalidate_caches()
    assert n_rereads() == 3
    assert sys.path_importer_cache[arc]._files == {}


def test_guard_installs_once(guarded):
    method = zipimport.zipimporter.invalidate_caches
    assert method.stat_keyed
    dgs._guard_zip_rereads()
    assert zipimport.zipimporter.invalidate_caches is method


def test_guard_installed_in_workers_not_in_driver(spark):
    import pyarrow as pa
    from pyspark.sql import functions as F
    from datafusion_geo_spark.functions import st_point, st_x

    # a library UDF: its workers import the package inside a task
    got = (spark.range(8, numPartitions=2)
           .select(st_x(st_point(F.col("id").cast("double"), F.lit(1.0)))
                   .alias("x"))
           .collect())
    assert sorted(r.x for r in got) == [float(i) for i in range(8)]

    def probe(batches):
        import sys as _sys
        import zipimport as _zi
        for _ in batches:
            pass
        loaded = "datafusion_geo_spark" in _sys.modules
        guard = getattr(_zi.zipimporter.invalidate_caches,
                        "stat_keyed", False)
        yield pa.RecordBatch.from_pydict(
            {"loaded": [loaded], "guard": [bool(guard)]})

    rows = (spark.range(8, numPartitions=2)
            .mapInArrow(probe, "loaded boolean, guard boolean").collect())
    assert any(r.loaded for r in rows), rows
    # every worker that imported the package carries the guard
    assert all(r.guard for r in rows if r.loaded), rows
    # the driver's import machinery is untouched
    method = zipimport.zipimporter.invalidate_caches
    assert not getattr(method, "stat_keyed", False)
    assert method.__qualname__ == "zipimporter.invalidate_caches"
