"""The stat guard on ``zipimporter.invalidate_caches`` (alertas_spark/_zipfix.py):
an unchanged archive is not re-read, a changed or vanished one is, and every
PySpark worker that runs an ``alertas_spark`` kernel carries the guard."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

from alertas_spark import _zipfix
from alertas_spark.operators import kmeans

pytestmark = pytest.mark.skipif(sys.version_info >= (3, 12),
                                reason="zipimporter re-reads only on demand from 3.12")


@pytest.fixture()
def reads(monkeypatch):
    """Archive paths passed to ``zipimport._read_directory``, one per call."""
    seen = []
    read = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


@pytest.fixture()
def archive(tmp_path, monkeypatch):
    """A zip of one module, ``zf_probe_a``, on ``sys.path``."""
    path = str(tmp_path / "probe.zip")
    _write_zip(path, {"zf_probe_a.py": "A = 1\n"})
    monkeypatch.syspath_prepend(path)
    yield path
    sys.path_importer_cache.pop(path, None)
    for name in ("zf_probe_a", "zf_probe_b"):
        sys.modules.pop(name, None)


def _write_zip(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)


def test_unchanged_archive_is_not_reread(archive, reads):
    _zipfix.install()
    assert importlib.import_module("zf_probe_a").A == 1
    importlib.invalidate_caches()   # the first guarded call re-reads
    del reads[:]
    importlib.invalidate_caches()
    assert reads == []


def test_rewritten_archive_is_reread_once(archive, reads):
    _zipfix.install()
    importlib.import_module("zf_probe_a")
    importlib.invalidate_caches()
    _write_zip(archive, {"zf_probe_a.py": "A = 1\n", "zf_probe_b.py": "B = 2\n"})
    del reads[:]
    importlib.invalidate_caches()
    assert reads == [archive]
    assert importlib.import_module("zf_probe_b").B == 2


def test_vanished_archive_is_reread_every_time(archive, reads):
    _zipfix.install()
    importlib.import_module("zf_probe_a")
    importlib.invalidate_caches()
    os.remove(archive)
    del reads[:]
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == [archive, archive]


def test_install_twice_patches_once(monkeypatch):
    cls = zipimport.zipimporter
    _zipfix.install()
    original = cls.invalidate_caches.__wrapped__
    monkeypatch.setattr(cls, "invalidate_caches", original)
    _zipfix.install()
    once = cls.invalidate_caches
    _zipfix.install()
    assert cls.invalidate_caches is once
    assert once.stat_guarded and once.__wrapped__ is original


def test_worker_skips_the_reread_of_an_unchanged_archive(spark):
    """In a worker reused after a kernel ran, PySpark's per-task
    ``importlib.invalidate_caches()`` reads no zip directory."""
    frame = spark.createDataFrame([(i, [float(i), 0.0]) for i in range(8)],
                                  "vec_id bigint, emb array<double>").coalesce(1)
    items = [{"cid": 0, "cvec": [0.0, 0.0]}, {"cid": 1, "cvec": [5.0, 0.0]}]
    for _ in range(3):
        assert kmeans.argmin_arrow(frame, "emb", items, "cid", "d").count() == 8

    def report(batches):
        # a module-level alertas_spark function: unpickled by reference, so
        # the worker imports the package (and its guard) to run this
        assert callable(kmeans.argmin_arrow)
        zips = [f for f in sys.path_importer_cache.values()
                if isinstance(f, zipimport.zipimporter)]
        stamped = bool(zips) and all(hasattr(f, "_read_stamp") for f in zips)
        seen = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda a: seen.append(a) or read(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "guarded": [bool(getattr(zipimport.zipimporter.invalidate_caches,
                                     "stat_guarded", False))],
            "zips": [len(zips)], "stamped": [stamped], "reads": [len(seen)]})

    schema = "guarded boolean, zips long, stamped boolean, reads long"
    rows = []
    # idle workers are reused in turn; stop at the first one whose importers
    # the task's own invalidate_caches() call had already stamped
    for _ in range(12):
        (r,) = frame.mapInArrow(report, schema).collect()
        rows.append(r)
        if r.stamped or not r.zips:
            break
    assert all(r.guarded for r in rows), rows
    if not rows[-1].zips:
        pytest.skip("the worker imports nothing from a zip archive, so there is "
                    "no re-read to skip")
    assert rows[-1].stamped, rows
    assert rows[-1].reads == 0, rows
