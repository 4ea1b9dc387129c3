from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd

import graphzeppelin_spark  # noqa: F401  (installs the zip re-read guard)
from graphzeppelin_spark.session import default_driver_memory


def _write_zip(path, modules: dict[str, str]) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)
    return str(path)


def test_invalidate_caches_rereads_only_changed_archives(tmp_path, monkeypatch):
    """An unchanged archive on sys.path is not re-read by a second
    importlib.invalidate_caches(); a rewritten one is, so a module added to
    it imports."""
    archive = _write_zip(tmp_path / "probe.zip", {"gz_zip_probe_a": "X = 1\n"})
    reads = []
    real = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real(path)

    sys.path.insert(0, archive)
    try:
        import gz_zip_probe_a

        assert gz_zip_probe_a.X == 1
        importlib.invalidate_caches()  # the guard's first sight of the archive
        monkeypatch.setattr(zipimport, "_read_directory", counting)
        importlib.invalidate_caches()
        assert reads == []
        _write_zip(tmp_path / "probe.zip",
                   {"gz_zip_probe_a": "X = 1\n", "gz_zip_probe_b": "Y = 2\n"})
        importlib.invalidate_caches()
        import gz_zip_probe_b

        assert gz_zip_probe_b.Y == 2
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        sys.modules.pop("gz_zip_probe_a", None)
        sys.modules.pop("gz_zip_probe_b", None)


def test_spark_task_skips_unchanged_archive_rereads(spark, tmp_path):
    """In a Python worker that has imported the package, the per-task
    importlib.invalidate_caches() re-reads no archive that has not changed.
    The task puts one archive of its own on sys.path, so the check holds
    whatever archives the worker starts with."""
    archive = _write_zip(tmp_path / "task_probe.zip", {"gz_task_probe": "Z = 3\n"})

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import graphzeppelin_spark  # noqa: F401

        for _ in batches:
            pass
        sys.path.insert(0, archive)
        real = zipimport._read_directory
        reads = []
        try:
            import gz_task_probe  # noqa: F401

            importlib.invalidate_caches()

            def counting(path):
                reads.append(path)
                return real(path)

            zipimport._read_directory = counting
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
            sys.path.remove(archive)
            sys.path_importer_cache.pop(archive, None)
            sys.modules.pop("gz_task_probe", None)
        yield pd.DataFrame({"reads": [len(reads)]})

    rows = (
        spark.range(4).repartition(4)
        .mapInPandas(probe, "reads long")
        .collect()
    )
    assert [r["reads"] for r in rows] == [0, 0, 0, 0]


def test_default_driver_memory_is_a_clamped_quarter_of_host_ram():
    gib = 2**30
    assert default_driver_memory(15 * gib) == "3g"
    assert default_driver_memory(16 * gib) == "4g"
    assert default_driver_memory(1 * gib) == "2g"
    assert default_driver_memory(64 * gib) == "8g"
    assert default_driver_memory(512 * gib) == "8g"
    assert default_driver_memory() in {f"{g}g" for g in range(2, 9)}
