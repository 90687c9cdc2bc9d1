"""The engine bodies that run in a Python worker drop the zip importers
from the import cache (``worker.forget_zip_finders``), so the
``importlib.invalidate_caches()`` PySpark's worker calls before each
task has no archive to re-read."""

from __future__ import annotations

import importlib
import importlib.machinery
import os
import sys
import uuid
import zipfile
import zipimport
from datetime import datetime

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pytest

from tesseract_ocr_service_spark.config import ExtractConfig
from tesseract_ocr_service_spark.functions import kernel
from tesseract_ocr_service_spark.plans import commit as C
from tesseract_ocr_service_spark.sources import gen
from tesseract_ocr_service_spark.sources import warc as W
from tesseract_ocr_service_spark.worker import forget_zip_finders


def _zip_package(path, package: str, modules: dict[str, str]) -> str:
    """A zip at ``path`` holding the package ``package`` with
    ``modules`` (name -> source); returns the zip's path."""
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{package}/__init__.py", "")
        for name, src in modules.items():
            z.writestr(f"{package}/{name}.py", src)
    return str(path)


@pytest.fixture()
def zipped(tmp_path):
    """A package in a zip on ``sys.path``, named uniquely; the path and
    the modules are taken away again afterwards."""
    package = f"zipped_{uuid.uuid4().hex}"
    path = _zip_package(
        tmp_path / "lib.zip", package, {"a": "VALUE = 'a'\n", "b": "VALUE = 'b'\n"}
    )
    sys.path.insert(0, path)
    try:
        yield path, package
    finally:
        sys.path.remove(path)
        for name in [m for m in sys.modules if m.split(".")[0] == package]:
            del sys.modules[name]
        for p in [p for p in sys.path_importer_cache if p.startswith(path)]:
            del sys.path_importer_cache[p]
        zipimport._zip_directory_cache.pop(path, None)


def test_forgotten_zip_finders_leave_nothing_to_reread(zipped, monkeypatch):
    """With the zip importers forgotten, ``importlib.invalidate_caches()``
    reads no archive directory (it read the zip's once per importer
    before), a directory's finder stays cached, and another module of
    the zip still imports, from the directory zipimport already holds."""
    path, package = zipped
    assert importlib.import_module(f"{package}.a").VALUE == "a"
    zips = [p for p in sys.path_importer_cache if p.startswith(path)]
    assert zips and all(
        isinstance(sys.path_importer_cache[p], zipimport.zipimporter) for p in zips
    )
    kept = {
        p: f for p, f in sys.path_importer_cache.items()
        if not isinstance(f, zipimport.zipimporter)
    }
    assert any(isinstance(f, importlib.machinery.FileFinder) for f in kept.values())

    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()
    assert reads.count(path) == len(zips)  # the cost the helper removes

    reads.clear()
    forget_zip_finders()
    assert not any(
        isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
    )
    assert all(sys.path_importer_cache.get(p) is f for p, f in kept.items())
    importlib.invalidate_caches()
    assert reads == []

    assert importlib.import_module(f"{package}.b").VALUE == "b"
    assert reads == []  # the new importer took the cached directory


def _write_task(stage):
    pages = pa.Table.from_pandas(gen.gen_batch(list(range(6)), seed=3), preserve_index=False)
    day = pc.strftime(pages.column("warc_ts"), "%Y-%m-%d")
    pages = pages.append_column(C._DAY, day).sort_by([(C._DAY, "ascending"), ("url", "ascending")])
    return C._write_task(
        pages.to_batches(), cfg=ExtractConfig(), stage_uri=str(stage), prefix=""
    )


def _kernel_iter(_):
    batch = pa.RecordBatch.from_pandas(gen.gen_batch([0, 1, 2], seed=3), preserve_index=False)
    return kernel.kernel_iter([batch], ExtractConfig())


def _parse_paths(tmp):
    path = os.path.join(tmp, "one.warc.gz")
    W.write_warc(path, [("http://a.test/", datetime(2026, 1, 2), b"<p>hello world</p>")])
    return W._parse_paths(iter([pd.DataFrame({"path": [path]})]))


def _gen_batches_iter(_):
    return gen.gen_batches_iter(iter([pd.DataFrame({"id": [0, 1]})]), seed=3)


@pytest.mark.parametrize(
    "entry", [_write_task, _kernel_iter, _parse_paths, _gen_batches_iter],
    ids=["commit._write_task", "kernel.kernel_iter", "warc._parse_paths", "gen.gen_batches_iter"],
)
def test_every_worker_entry_point_forgets_zip_finders(tmp_path, entry):
    """Each engine body that runs in a Python worker forgets the zip
    importers: one planted in the cache is gone after the body ran over
    a tiny input."""
    path = _zip_package(tmp_path / "planted.zip", "planted", {})
    sys.path_importer_cache[path] = zipimport.zipimporter(path)
    try:
        out = list(entry(tmp_path))
        assert out
        assert path not in sys.path_importer_cache
    finally:
        sys.path_importer_cache.pop(path, None)
        zipimport._zip_directory_cache.pop(path, None)


def test_a_shipped_zip_imports_after_a_commit(spark, tmp_path):
    """A zip shipped with ``addPyFile`` stays importable on the shared
    session across a commit that forgot the workers' zip importers: a
    module imported before the commit, its sibling first imported after
    it, and a module of a zip shipped after it."""
    pages, out = str(tmp_path / "pages"), str(tmp_path / "out")
    gen.write_pages(spark, pages, 40, seed=5, partitions=2)
    first = f"shipped_{uuid.uuid4().hex}"
    later = f"shipped_{uuid.uuid4().hex}"
    sc = spark.sparkContext
    sc.addPyFile(
        _zip_package(tmp_path / "first.zip", first, {"a": "VALUE = 1\n", "b": "VALUE = 2\n"})
    )

    def imported(modules):
        def task(batches):
            for b in batches:
                values = [importlib.import_module(m).VALUE for m in modules]
                yield pa.RecordBatch.from_pydict(
                    {"id": b.column("id"), "v": [sum(values)] * b.num_rows}
                )

        rows = spark.range(0, 8, 1, 4).mapInArrow(task, "id long, v long").collect()
        return sorted(r["v"] for r in rows)

    try:
        assert imported([f"{first}.a"]) == [1] * 8
        assert C.run_checkpointed(spark, pages, out).n_docs == 40
        assert imported([f"{first}.a", f"{first}.b"]) == [3] * 8
        sc.addPyFile(_zip_package(tmp_path / "later.zip", later, {"c": "VALUE = 4\n"}))
        assert imported([f"{later}.c", f"{first}.b"]) == [6] * 8
    finally:
        for name in [m for m in sys.modules if m.split(".")[0] in (first, later)]:
            del sys.modules[name]
