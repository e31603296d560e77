"""Shipping the package to Python workers (no Spark session): the
``--py-files`` zip and the zip-directory refresh every worker task runs."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import tempfile
import zipfile
import zipimport
from pathlib import Path

import spider_spark  # noqa: F401  (installs the lazy zip refresh on Python < 3.13)
from spider_spark.session import package_zip


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_invalidate_caches_rereads_a_zip_only_when_it_changed(tmp_path, monkeypatch):
    """pyspark's worker calls ``importlib.invalidate_caches()`` before
    every task; an unchanged archive must not be read again, and a
    rewritten one must be."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zipcache_mod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("zipcache_mod_a", "zipcache_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zipcache_mod_a").X == 1

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert archive not in reads

    _write_zip(archive, {"zipcache_mod_a": "X = 1\n", "zipcache_mod_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert archive in reads
    assert importlib.import_module("zipcache_mod_b").Y == 2
    sys.path_importer_cache.pop(archive, None)


def test_package_zip_is_named_by_its_sources(tmp_path, monkeypatch):
    """Two source trees never share a zip name; one tree keeps its name."""
    (tmp_path / "tmp").mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    trees = []
    for i, body in enumerate(("X = 1\n", "X = 2\n")):
        pkg = tmp_path / f"src{i}"
        pkg.mkdir()
        (pkg / "__init__.py").write_text(body)
        trees.append(pkg)
    first, second = (package_zip(pkg) for pkg in trees)
    assert first.name != second.name
    assert package_zip(trees[0]).name == first.name
    assert zipfile.ZipFile(second).read("spider_spark/__init__.py") == b"X = 2\n"


def test_package_zip_is_removed_when_its_process_exits(tmp_path):
    """The shipped zip lives as long as the process that built it."""
    child_tmp = tmp_path / "tmp"
    child_tmp.mkdir()
    repo = Path(__file__).resolve().parents[1]
    code = (
        "from pathlib import Path; import spider_spark; "
        "from spider_spark.session import package_zip; "
        "z = package_zip(Path(spider_spark.__file__).parent); "
        "assert z.is_file(); print(z)"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=repo,
        env={**os.environ, "TMPDIR": str(child_tmp)},
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    assert Path(out.strip()).is_relative_to(child_tmp)
    assert not list(child_tmp.rglob("spider_spark_pyfiles_*"))
