"""``cugraph_spark.zipcache``: on import of the package, a zipimporter
re-reads its archive's directory only when the archive has changed."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

import cugraph_spark  # noqa: F401  (installs the wrapper)


def _write(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="3.13 no longer re-reads")
def test_zip_directory_reread_only_when_changed(tmp_path, monkeypatch):
    arc = tmp_path / "zc_mods.zip"
    _write(arc, {"zc_mod_a": "A = 1\n"})
    monkeypatch.syspath_prepend(str(arc))
    for name in ("zc_mod_a", "zc_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zc_mod_a").A == 1
    importlib.invalidate_caches()  # an importer's first invalidation reads once

    reads: list = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda path: reads.append(path) or real(path))
    importlib.invalidate_caches()
    assert not [p for p in reads if p.endswith("zc_mods.zip")]

    _write(arc, {"zc_mod_a": "A = 1\n", "zc_mod_b": "B = 2\n"})
    importlib.invalidate_caches()
    assert [p for p in reads if p.endswith("zc_mods.zip")]
    assert importlib.import_module("zc_mod_b").B == 2
