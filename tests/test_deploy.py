"""The shipped package zip holds the calling checkout's bytes and is gone
once the process that wrote it exits."""

from __future__ import annotations

import importlib.util
import os
import shutil
import subprocess
import sys
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


def test_package_zip_holds_the_calling_checkouts_bytes(tmp_path):
    a, b = (_checkout(str(tmp_path / n)) for n in "ab")
    target = os.path.join(b, "index", "segments.py")
    with open(target, "rb") as f:
        data = bytearray(f.read())
    data[-1:] = b" " if data[-1:] != b" " else b"\n"
    with open(target, "wb") as f:
        f.write(bytes(data))

    za, zb = _zip_of(a), _zip_of(b)
    with zipfile.ZipFile(zb) as z:
        assert z.read("duckdb_vss_spark/index/segments.py") == bytes(data)
    with zipfile.ZipFile(za) as z:
        with open(os.path.join(a, "index", "segments.py"), "rb") as f:
            assert z.read("duckdb_vss_spark/index/segments.py") == f.read()
        assert sorted(z.namelist()) == sorted(
            os.path.relpath(os.path.join(r, f), str(tmp_path / "a")).replace(os.sep, "/")
            for r, _, fs in os.walk(a) for f in fs if f.endswith(".py")
        )


def test_package_zip_is_gone_after_its_process_exits(tmp_path):
    script = (
        "import os; from duckdb_vss_spark.deploy import package_zip; "
        "z = package_zip(); assert os.path.isfile(z); print(z)"
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=os.path.dirname(os.path.dirname(duckdb_vss_spark.__file__)),
        env={**os.environ, "TMPDIR": str(tmp_path)},
        capture_output=True, text=True, check=True,
    )
    z = out.stdout.strip()
    assert z.startswith(str(tmp_path)) and z.endswith(".zip")
    assert not os.path.exists(z) and os.listdir(tmp_path) == []
