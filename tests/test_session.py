"""Session helpers that run outside Spark (no SparkSession needed)."""

import importlib
import sys
import zipfile
import zipimport

from image_dedup_spark.session import drop_zip_finders


def _zip_finders() -> list[str]:
    return [
        p
        for p, f in sys.path_importer_cache.items()
        if isinstance(f, zipimport.zipimporter)
    ]


def test_drop_zip_finders_keeps_zip_imports_working(tmp_path, monkeypatch):
    """A Python worker imports from zips on ``sys.path``; dropping their
    cached finders must leave later imports from the same zip working
    after the ``invalidate_caches()`` that pyspark runs per task."""
    z = tmp_path / "mods.zip"
    with zipfile.ZipFile(z, "w") as zf:
        zf.writestr("zfinder_pkg/__init__.py", "")
        zf.writestr("zfinder_pkg/first.py", "VALUE = 1\n")
        zf.writestr("zfinder_pkg/second.py", "VALUE = 2\n")
    monkeypatch.syspath_prepend(str(z))  # restores sys.path on teardown
    try:
        assert importlib.import_module("zfinder_pkg.first").VALUE == 1
        assert str(z) in _zip_finders()
        drop_zip_finders()
        assert _zip_finders() == []
        importlib.invalidate_caches()
        assert importlib.import_module("zfinder_pkg.second").VALUE == 2
    finally:
        for name in [m for m in sys.modules if m.startswith("zfinder_pkg")]:
            del sys.modules[name]
