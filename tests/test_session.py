"""``session.drop_zip_finders``: a reused Python worker's zip importers are
dropped so its next task's ``importlib.invalidate_caches()`` re-reads no
archive, and imports from a zip keep working after it. The crawl's
per-epoch Python functions (the walk, the flat resolver, the payload
verifier) call it first; the resolver's call is checked here."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

from bitextor_spark.functions.urls import make_flat_resolver
from bitextor_spark.session import drop_zip_finders

_PKG = "zipfinder_probe"


def _zip_finders() -> list[str]:
    return [
        path for path, finder in sys.path_importer_cache.items()
        if isinstance(finder, zipimport.zipimporter)
    ]


@pytest.fixture
def zip_pkg(tmp_path):
    """A zip holding package ``zipfinder_probe`` (modules ``a`` and
    ``b``), on ``sys.path``; ``sys.path``, the importer cache and the
    imported modules are put back afterwards."""
    archive = str(tmp_path / "probe.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr(f"{_PKG}/__init__.py", "")
        zf.writestr(f"{_PKG}/a.py", "NAME = 'a'\n")
        zf.writestr(f"{_PKG}/b.py", "NAME = 'b'\n")
    path, cache = list(sys.path), dict(sys.path_importer_cache)
    sys.path.insert(0, archive)
    try:
        yield archive
    finally:
        sys.path[:] = path
        sys.path_importer_cache.clear()
        sys.path_importer_cache.update(cache)
        zipimport._zip_directory_cache.pop(archive, None)
        for name in [m for m in sys.modules if m.split(".")[0] == _PKG]:
            del sys.modules[name]


def test_drop_zip_finders_keeps_zip_imports_working(zip_pkg):
    assert importlib.import_module(f"{_PKG}.a").NAME == "a"
    assert zip_pkg in _zip_finders()
    drop_zip_finders()
    assert _zip_finders() == []
    # what a reused worker runs before its next task: nothing to re-read
    importlib.invalidate_caches()
    assert importlib.import_module(f"{_PKG}.b").NAME == "b"


def test_flat_resolver_drops_zip_finders(zip_pkg):
    batch = pa.RecordBatch.from_pydict({
        "disc_url": ["http://a.example/x/", "https://b.example/"],
        "outlinks": [
            ["y.html", "http://c.example/z", "y.html"],
            ["/p?q=1", "mailto:someone@b.example"],
        ],
        "parent_priority": [1.0, 2.0],
    })
    fn = make_flat_resolver(
        "disc_url", "outlinks", "parent_priority", ["disc_url"]
    )
    want = [b.to_pylist() for b in fn(iter([batch]))]
    assert [r["cand_canon"] for r in want[0]] == [
        "http://a.example/x/y.html", "http://c.example/z",
        "https://b.example/p?q=1",
    ]
    sys.path_importer_cache[zip_pkg] = zipimport.zipimporter(zip_pkg)
    got = [b.to_pylist() for b in fn(iter([batch]))]
    assert _zip_finders() == []
    assert got == want
