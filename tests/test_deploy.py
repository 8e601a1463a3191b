"""The shipped package zip is named by the package's content: checkouts that
differ in one byte ship different zips, identical checkouts share one, and
the zip holds the calling checkout's bytes."""

from __future__ import annotations

import importlib.util
import os
import shutil
import tempfile
import zipfile

import duckdb_vss_spark


def _checkout(root: str) -> str:
    """A copy of the package's ``.py`` files under ``root``."""
    src = os.path.dirname(duckdb_vss_spark.__file__)
    dst = os.path.join(root, "duckdb_vss_spark")
    shutil.copytree(src, dst, ignore=lambda d, names: [n for n in names if n == "__pycache__"])
    return dst


def _zip_of(pkg: str) -> str:
    """``package_zip()`` as the copy at ``pkg`` computes it."""
    spec = importlib.util.spec_from_file_location(f"deploy_{abs(hash(pkg))}", os.path.join(pkg, "deploy.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.package_zip()


def test_package_zip_is_named_by_content(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    os.makedirs(tmp_path / "tmp")
    a, b, c = (_checkout(str(tmp_path / n)) for n in "abc")
    target = os.path.join(b, "index", "segments.py")
    with open(target, "rb") as f:
        data = bytearray(f.read())
    data[-1:] = b" " if data[-1:] != b" " else b"\n"
    with open(target, "wb") as f:
        f.write(bytes(data))

    za, zb, zc = _zip_of(a), _zip_of(b), _zip_of(c)
    assert za != zb and za == zc
    assert all(os.path.dirname(z) == str(tmp_path / "tmp") for z in (za, zb))
    with zipfile.ZipFile(zb) as z:
        assert z.read("duckdb_vss_spark/index/segments.py") == bytes(data)
    with zipfile.ZipFile(za) as z:
        with open(os.path.join(a, "index", "segments.py"), "rb") as f:
            assert z.read("duckdb_vss_spark/index/segments.py") == f.read()
        assert sorted(z.namelist()) == sorted(
            os.path.relpath(os.path.join(r, f), str(tmp_path / "a")).replace(os.sep, "/")
            for r, _, fs in os.walk(a) for f in fs if f.endswith(".py")
        )
