"""Engine zip shipping (Spark-free)."""

import importlib.util
import shutil
import tempfile

from textindexing_spark import _pkg


def _load_copy(tmp_path):
    """``_pkg`` as imported from a second checkout of the package."""
    pkg = tmp_path / "other" / "textindexing_spark"
    pkg.mkdir(parents=True)
    shutil.copy(_pkg.__file__, pkg / "_pkg.py")
    spec = importlib.util.spec_from_file_location("other_pkg",
                                                  pkg / "_pkg.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_default_zip_path_is_per_checkout(tmp_path, monkeypatch):
    """Two checkouts on one host must not share a default engine zip: a
    session of one would ship the other's code, or fail on a zip whose
    contents changed under it. Each checkout's path is stable."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    other = _load_copy(tmp_path)
    ours = _pkg.package_zip()
    theirs = other.package_zip()
    assert theirs != ours
    assert other.package_zip() == theirs
    assert _pkg.package_zip() == ours
