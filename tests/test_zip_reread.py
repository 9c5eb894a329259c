"""Importing the package makes a zipimporter re-read its archive on
importlib.invalidate_caches() only when the archive changed (PySpark
workers call invalidate_caches() before every task)."""

import importlib
import sys
import zipfile
import zipimport

import mashing_pumpkins_spark  # noqa: F401  installs the guard


def _write(arc, names):
    with zipfile.ZipFile(arc, "w") as z:
        for name in names:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_archive_reread_only_when_changed(tmp_path, monkeypatch):
    arc = tmp_path / "lib.zip"
    _write(arc, ["mp_zip_one"])
    monkeypatch.syspath_prepend(str(arc))
    reads = []
    real = zipimport._read_directory

    def counting(path):
        if path == str(arc):
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    for name in ("mp_zip_one", "mp_zip_two"):
        monkeypatch.delitem(sys.modules, name, raising=False)

    assert importlib.import_module("mp_zip_one").NAME == "mp_zip_one"
    importlib.invalidate_caches()  # first guarded call records the stamp
    before = len(reads)
    for _ in range(5):
        importlib.invalidate_caches()
    assert len(reads) == before

    _write(arc, ["mp_zip_one", "mp_zip_two"])
    importlib.invalidate_caches()
    assert len(reads) == before + 1
    assert importlib.import_module("mp_zip_two").NAME == "mp_zip_two"
    for name in ("mp_zip_one", "mp_zip_two"):
        sys.modules.pop(name, None)
