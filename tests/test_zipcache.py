"""The stat-guarded zipimport re-read (tdigest_spark/_zipcache.py): a
changed archive is still re-read by ``importlib.invalidate_caches()``, an
unchanged one is not, and a Python worker that ran a library task keeps
the guard for its later tasks.

This module imports nothing from tdigest_spark at the top, so a worker
that unpickles the probe below learns from ``sys.modules`` whether an
earlier task in it had imported the package."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

_SIG = "_tdigest_spark_stat"
_MOD = "tds_zipcache_probe_mod"
_GUARDED = sys.version_info < (3, 13)


def _write_zip(path, value: int, pad_first: bool, mtime_ns=None) -> None:
    """An archive holding the probe module and a same-length pad module,
    in either order: a stale directory then reads the wrong entry."""
    entries = [(f"{_MOD}.py", f"VALUE = {value}\n"),
               ("tds_zipcache_pad.py", "VALUE = " + "0" * len(str(value)) + "\n")]
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in entries[::-1] if pad_first else entries:
            zf.writestr(name, body)
    if mtime_ns is not None:
        os.utime(path, ns=(mtime_ns, mtime_ns))


def _import_fresh():
    sys.modules.pop(_MOD, None)
    return importlib.import_module(_MOD).VALUE


def test_changed_archive_is_reread(tmp_path, monkeypatch):
    """Each field of the (inode, mtime, size) signature on its own makes
    invalidate_caches() re-read the archive."""
    from tdigest_spark import _zipcache

    assert _zipcache.SIG_ATTR == _SIG
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, 11, pad_first=False)
    monkeypatch.syspath_prepend(archive)
    importlib.invalidate_caches()
    assert _import_fresh() == 11
    assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)
    importlib.invalidate_caches()  # a new importer's first call stamps it

    # in place (same inode), same mtime, new size
    st = os.stat(archive)
    _write_zip(archive, 123, pad_first=True, mtime_ns=st.st_mtime_ns)
    after = os.stat(archive)
    assert (after.st_ino, after.st_mtime_ns) == (st.st_ino, st.st_mtime_ns)
    assert after.st_size != st.st_size
    importlib.invalidate_caches()
    assert _import_fresh() == 123

    # in place, same size, only the mtime moves
    st = os.stat(archive)
    _write_zip(archive, 456, pad_first=False, mtime_ns=st.st_mtime_ns + 10**9)
    after = os.stat(archive)
    assert (after.st_ino, after.st_size) == (st.st_ino, st.st_size)
    importlib.invalidate_caches()
    assert _import_fresh() == 456

    # replaced by rename (new inode), same size and mtime
    st = os.stat(archive)
    _write_zip(archive + ".new", 789, pad_first=True, mtime_ns=st.st_mtime_ns)
    os.replace(archive + ".new", archive)
    after = os.stat(archive)
    assert (after.st_mtime_ns, after.st_size) == (st.st_mtime_ns, st.st_size)
    assert after.st_ino != st.st_ino
    importlib.invalidate_caches()
    assert _import_fresh() == 789

    # gone: the importer takes the original path and empties its table
    importer = sys.path_importer_cache[archive]
    os.remove(archive)
    importlib.invalidate_caches()
    if _GUARDED:
        assert importer._files == {}
    sys.modules.pop(_MOD, None)
    with pytest.raises(ImportError):
        importlib.import_module(_MOD)
    sys.path_importer_cache.pop(archive, None)


@pytest.mark.skipif(not _GUARDED, reason="Python >= 3.13 re-reads lazily")
def test_unchanged_archive_is_not_reread(tmp_path):
    import tdigest_spark  # noqa: F401  (installs the guard)

    assert hasattr(zipimport.zipimporter.invalidate_caches, "unguarded")
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, 1, pad_first=False)
    importer = zipimport.zipimporter(archive)
    importer.invalidate_caches()
    files = importer._files
    assert getattr(importer, _SIG) is not None
    for _ in range(3):
        importer.invalidate_caches()
        assert importer._files is files

    # a missing archive counts as changed, also for a never-stamped importer
    fresh = zipimport.zipimporter(archive)
    os.remove(archive)
    for imp in (importer, fresh):
        imp.invalidate_caches()
        assert imp._files == {}


def _probe(batches):
    """One row per task: what this Python worker holds when it starts."""
    import pyarrow as pa

    for _ in batches:
        pass
    pyspark_zips = [
        f for f in list(sys.path_importer_cache.values())
        if isinstance(f, zipimport.zipimporter)
        and os.path.basename(f.archive) == "pyspark.zip"
    ]
    yield pa.RecordBatch.from_pydict({
        "pid": [os.getpid()],
        "preloaded": ["tdigest_spark" in sys.modules],
        "guarded": [hasattr(zipimport.zipimporter.invalidate_caches, "unguarded")],
        "pyspark_zips": [len(pyspark_zips)],
        "stamped": [sum(hasattr(f, _SIG) for f in pyspark_zips)],
    })


@pytest.mark.skipif(not _GUARDED, reason="Python >= 3.13 re-reads lazily")
def test_worker_keeps_guard_after_library_task(spark):
    from tdigest_spark.kll import kll_by

    parts = 4
    df = spark.range(0, 4000, numPartitions=parts).selectExpr(
        "id % 3 AS g", "CAST(id AS DOUBLE) AS v"
    )
    # kll_by's map-side build runs in the Python workers the probe reuses
    assert kll_by(df, "v", ["g"]).count() == 3
    rows = (
        spark.range(0, parts, numPartitions=parts)
        .mapInArrow(_probe, "pid long, preloaded boolean, guarded boolean, "
                    "pyspark_zips long, stamped long")
        .collect()
    )
    warm = [r for r in rows if r.preloaded]
    assert warm, rows  # the build's workers are reused
    for r in warm:
        assert r.guarded, r
        assert r.pyspark_zips > 0 and r.stamped == r.pyspark_zips, r
