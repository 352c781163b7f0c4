"""The worker daemon's zip importers re-read an archive only when it
changed (dea_coastlines_spark/pydaemon.py), exercised in-process."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

from dea_coastlines_spark import pydaemon


def _write_zip(path, files: dict[str, str]) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in files.items():
            zf.writestr(name, src)
    os.replace(tmp, path)


def test_archive_reread_only_when_changed(tmp_path, monkeypatch):
    archive = str(tmp_path / "dcs_daemon_probe.zip")
    _write_zip(archive, {
        "dcs_probe_a.py": "X = 1\n",
        "dcs_probe_pkg/__init__.py": "",
    })
    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", pydaemon.invalidate_caches
    )
    monkeypatch.syspath_prepend(archive)
    try:
        import dcs_probe_a

        assert dcs_probe_a.X == 1
        # two importers over one archive, like pyspark.zip's subpackages
        root = sys.path_importer_cache[archive]
        sub = zipimport.zipimporter(os.path.join(archive, "dcs_probe_pkg"))
        importlib.invalidate_caches()  # first call stamps each importer
        sub.invalidate_caches()

        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
            sub.invalidate_caches()
        assert reads == []  # unchanged archive: no re-read

        _write_zip(archive, {
            "dcs_probe_a.py": "X = 1\n",
            "dcs_probe_b.py": "Y = 2\n",
            "dcs_probe_pkg/__init__.py": "",
            "dcs_probe_pkg/c.py": "Z = 3\n",
        })
        importlib.invalidate_caches()
        sub.invalidate_caches()
        # rewritten archive: each importer re-reads it once, even though
        # the first refresh already updated the shared directory cache
        assert len(reads) == 2
        assert "dcs_probe_pkg/c.py" in sub._files
        assert "dcs_probe_b.py" in root._files

        import dcs_probe_b

        assert dcs_probe_b.Y == 2
    finally:
        for name in ("dcs_probe_a", "dcs_probe_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
