"""What an engine body does first in a Python worker.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). Under CPython
3.11 that call makes every ``zipimport.zipimporter`` held in
``sys.path_importer_cache`` re-read its archive's whole directory at
once. A worker's path holds ``pyspark.zip``, the py4j zip and a Spark
jar, and its cache one importer per archive and per package imported
from one (92 entries in a worker that ran the engine), so a task spent
120-250 ms there before it ran a line of the engine — on every task,
also in a reused worker.

:func:`forget_zip_finders` drops those importers. The next task the
worker runs then has no archive to re-read. An import that needs one of
the archives again builds its importer lazily, from the directory
``zipimport._zip_directory_cache`` still holds (no re-read); a module
already loaded keeps its own loader. Spark never replaces a file it
shipped under the same name, so the kept directory stays the archive's.
"""

from __future__ import annotations

import sys
import zipimport


def forget_zip_finders() -> None:
    """Remove every ``zipimporter`` from ``sys.path_importer_cache``;
    other finders (the directories' ``FileFinder``, cheap to invalidate)
    stay. Every engine body that runs in a Python worker calls this
    first."""
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del cache[path]
