"""The executors' package zip: one per checkout, rebuilt from that
checkout's own sources only."""

from __future__ import annotations

import os
import tempfile
import time
import zipfile

from elasticsearch_spark import session


def _package(root, body: str) -> str:
    pkg = os.path.join(root, "pkg")
    os.makedirs(pkg)
    with open(os.path.join(pkg, "mod.py"), "w") as f:
        f.write(body)
    return pkg


def _source(zip_path: str) -> str:
    with zipfile.ZipFile(zip_path) as z:
        return z.read("pkg/mod.py").decode()


def test_each_checkout_ships_its_own_zip(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    os.makedirs(tempfile.tempdir)
    a = _package(tmp_path / "a", "A = 1\n")
    b = _package(tmp_path / "b", "B = 1\n")
    za, zb = session._package_zip(a), session._package_zip(b)
    assert za != zb and os.path.dirname(za) == tempfile.tempdir
    assert (_source(za), _source(zb)) == ("A = 1\n", "B = 1\n")

    # a newer source in b rebuilds b's zip and leaves a's alone, however the
    # two zips' ages compare
    a_built = os.path.getmtime(za)
    time.sleep(0.01)
    with open(os.path.join(b, "mod.py"), "w") as f:
        f.write("B = 2\n")
    assert session._package_zip(b) == zb and _source(zb) == "B = 2\n"
    assert session._package_zip(a) == za and _source(za) == "A = 1\n"
    assert os.path.getmtime(za) == a_built
