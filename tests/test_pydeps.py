"""pydeps: the package zip shipped to workers, and the workers'
zip-index reuse (``keep_zip_indexes``) — no Spark session needed."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys
import tempfile
import zipfile
import zipimport

import pytest
from pyspark import TaskContext

from ocr_document_recognition_service_spark import pydeps

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "ocr_document_recognition_service_spark"


def _write_zip(path: str, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in members.items():
            zf.writestr(name, src)


@pytest.fixture
def in_task(monkeypatch):
    """Pretend to be inside a Spark task; zipimporter is restored after."""
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.setattr(TaskContext, "_taskContext", object())


def test_keep_zip_indexes_rereads_only_changed_archives(tmp_path, in_task):
    arc = str(tmp_path / "mods.zip")
    _write_zip(arc, {"zmod_a.py": "X = 1\n"})
    imp = zipimport.zipimporter(arc)

    pydeps.keep_zip_indexes()
    assert zipimport.zipimporter.invalidate_caches is pydeps._invalidate_if_changed
    imp.invalidate_caches()  # first call after install: eager read + stamp
    index = imp._files
    imp.invalidate_caches()
    assert imp._files is index  # unchanged archive: index kept

    pydeps.keep_zip_indexes()  # second install: a no-op
    assert zipimport.zipimporter.invalidate_caches is pydeps._invalidate_if_changed
    imp.invalidate_caches()
    assert imp._files is index

    # rewritten archive: re-read, and its new member imports
    _write_zip(arc, {"zmod_a.py": "X = 1\n", "zmod_b.py": "Y = 2\n"})
    imp.invalidate_caches()
    assert imp._files is not index and "zmod_b.py" in imp._files
    spec = imp.find_spec("zmod_b")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.Y == 2

    # vanished archive: CPython's own behaviour (empty index, no raise)
    os.remove(arc)
    imp.invalidate_caches()
    assert imp._files == {}


def test_keep_zip_indexes_is_a_no_op_outside_a_task(monkeypatch):
    before = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", before)
    monkeypatch.setattr(TaskContext, "_taskContext", None)
    pydeps.keep_zip_indexes()
    assert zipimport.zipimporter.invalidate_caches is before


def test_package_zip_never_ships_a_stale_pid_named_zip(tmp_path, monkeypatch):
    """A zip left at the old ``<tmp>/<pkg>-<pid>.zip`` path (a dead
    process whose pid was recycled) is neither reused nor touched."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    stale = tmp_path / f"{PKG}-{os.getpid()}.zip"
    _write_zip(str(stale), {f"{PKG}/pipeline.py": "STALE = True\n"})
    stale_bytes = stale.read_bytes()

    out = pydeps.package_zip_path.__wrapped__()  # uncached: a fresh build
    assert os.path.dirname(out) == str(tmp_path)
    assert out != str(stale)
    assert stale.read_bytes() == stale_bytes
    with zipfile.ZipFile(out) as zf:
        with open(os.path.join(REPO, PKG, "pipeline.py"), "rb") as f:
            assert zf.read(f"{PKG}/pipeline.py") == f.read()


def test_package_zip_is_removed_at_exit_and_cli_writes_one(tmp_path):
    env = {**os.environ, "TMPDIR": str(tmp_path)}
    made = subprocess.run(
        [sys.executable, "-c",
         f"from {PKG}.pydeps import package_zip_path as p; "
         "import os; print(p()); assert os.path.getsize(p()) > 0"],
        cwd=REPO, env=env, capture_output=True, text=True, check=True,
    ).stdout.strip()
    assert os.path.dirname(made) == str(tmp_path)
    assert not os.path.exists(made)

    out = str(tmp_path / "pkg.zip")
    subprocess.run(
        [sys.executable, "-m", f"{PKG}.pydeps", out],
        cwd=REPO, env=env, capture_output=True, check=True,
    )
    with zipfile.ZipFile(out) as zf:
        assert f"{PKG}/pydeps.py" in zf.namelist()
