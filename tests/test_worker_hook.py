"""The stat-checked ``zipimporter.invalidate_caches`` the package installs
on import (``skylinemapreducehadoop_spark._worker``)."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import skylinemapreducehadoop_spark  # noqa: F401  (installs the hook)
from skylinemapreducehadoop_spark._worker import install_zipimport_hook

_BELOW_312 = sys.version_info < (3, 12)


def _hooked() -> bool:
    return hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")


def _write_zip(path, value: int) -> None:
    # a new file renamed over the old one: a new inode, as an atomic
    # rewrite of a real archive would have
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        zf.writestr("hookprobe_mod.py", f"V = {value}\n")
    os.replace(tmp, path)


@pytest.mark.skipif(_BELOW_312, reason="the hook installs below Python 3.12")
def test_hook_not_installed_from_312():
    assert not _hooked()


@pytest.mark.skipif(not _BELOW_312, reason="CPython 3.12+ re-reads zips lazily")
def test_unchanged_zip_is_not_reread_and_changed_zip_is(tmp_path, monkeypatch):
    install_zipimport_hook()  # idempotent: still one wrapper deep
    assert _hooked()
    assert not hasattr(zipimport.zipimporter.invalidate_caches.__wrapped__, "__wrapped__")

    archive = str(tmp_path / "hookprobe.zip")
    _write_zip(archive, 1)
    monkeypatch.syspath_prepend(archive)
    try:
        mod = importlib.import_module("hookprobe_mod")
        assert mod.V == 1
        importlib.invalidate_caches()  # records the stat key of every archive

        reads = []
        original = zipimport._read_directory
        monkeypatch.setattr(
            zipimport, "_read_directory", lambda path: reads.append(path) or original(path)
        )
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, 2)
        importlib.invalidate_caches()
        assert archive in reads
        assert importlib.reload(mod).V == 2
    finally:
        sys.modules.pop("hookprobe_mod", None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_reused_worker_skips_zip_rereads(spark):
    """A Python worker's second engine task finds the hook installed and
    re-reads no archive. Jobs of one task run until some worker serves
    a second one (idle workers are handed out first-in, first-out)."""

    def report(batches):
        import importlib
        import os
        import sys
        import zipimport

        import pyarrow as pa

        import skylinemapreducehadoop_spark  # noqa: F401  (an engine task)

        reads = 0
        original = zipimport._read_directory

        def counting(path):
            nonlocal reads
            reads += 1
            return original(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = original
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()],
            "hooked": [hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")],
            "reads": [reads],
            "zips": [sum(isinstance(v, zipimport.zipimporter) for v in sys.path_importer_cache.values())],
        })

    df = spark.range(1, numPartitions=1)
    schema = "pid long, hooked boolean, reads long, zips long"
    seen = set()
    for _ in range(32):
        row = df.mapInArrow(report, schema).collect()[0]
        if row["pid"] in seen:
            assert row["hooked"] == _BELOW_312, row
            if _BELOW_312:
                assert row["reads"] == 0, row
            return
        seen.add(row["pid"])
    pytest.fail(f"no Python worker served a second task: {sorted(seen)}")
