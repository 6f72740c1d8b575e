"""Process set-up the package does on import and in get_spark: the
driver-memory default and the stat-checked zip re-read of Python
workers."""

import importlib
import os
import sys
import zipfile
import zipimport

import iresearch_spark  # noqa: F401  (installs the zip re-read check)
from iresearch_spark.session import driver_memory

GiB = 1 << 30


def test_driver_memory_is_half_of_a_small_host():
    assert driver_memory(15 * GiB) == "7680m"
    assert driver_memory(4 * GiB) == "2048m"


def test_driver_memory_caps_at_16g():
    assert driver_memory(32 * GiB) == "16384m"
    assert driver_memory(512 * GiB) == "16384m"


def test_driver_memory_reads_the_host_by_default():
    physical = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert driver_memory() == driver_memory(physical)


def _write_zip(path, name, value):
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        z.writestr(f"{name}.py", f"VALUE = {value!r}\n")
    os.replace(tmp, path)  # a new file: new inode


def test_unchanged_zip_is_not_reread(tmp_path, monkeypatch):
    """An unchanged archive keeps its directory across
    importlib.invalidate_caches(); a rewritten one is re-read, and its
    new module imports."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, "zmod_first", 1)
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zmod_first").VALUE == 1
        importlib.invalidate_caches()  # records the archive's stamp

        reads = []
        real = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return real(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting)
        importlib.invalidate_caches()
        assert archive not in reads

        _write_zip(archive, "zmod_second", 2)
        importlib.invalidate_caches()
        assert archive in reads
        assert importlib.import_module("zmod_second").VALUE == 2
    finally:
        for m in ("zmod_first", "zmod_second"):
            sys.modules.pop(m, None)
        sys.path_importer_cache.pop(archive, None)
