"""pyspark's worker daemon, with CPython 3.13's lazy zip-import
invalidation installed on older interpreters before it forks workers.

Every task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Before 3.13 that makes
each ``zipimporter`` re-read its archive's whole directory at once:
``pyspark.zip`` (~1.3k entries) once per pyspark package the worker
has imported, plus the Spark core jar (~5.4k entries) on the worker's
``sys.path`` — 0.2-0.3 s of CPU per task, and a private copy of the
directory per importer. The lazy form drops the cached directory and
re-reads it only when an import next looks inside the archive.

``session.get_spark`` starts the daemon from here through
``spark.python.daemon.module``, so every forked worker inherits it.
"""

import pkgutil
import sys
import zipimport


def _files(self):
    try:
        return zipimport._zip_directory_cache[self.archive]
    except KeyError:
        try:
            files = zipimport._zip_directory_cache[self.archive] = (
                zipimport._read_directory(self.archive)
            )
        except zipimport.ZipImportError:
            files = {}
        return files


def _invalidate_caches(self):
    zipimport._zip_directory_cache.pop(self.archive, None)


def _iter_zip_modules(importer, prefix=""):
    importer._files  # refill the cache entry: pkgutil reads it directly
    return pkgutil.iter_zipimport_modules(importer, prefix)


def install() -> None:
    """Make ``zipimporter`` invalidation lazy (a no-op from 3.13 on,
    where it already is). ``__init__`` fills the shared directory
    cache itself, so the ``_files`` setter ignores its value."""
    if sys.version_info >= (3, 13):
        return
    zipimport.zipimporter._files = property(_files, lambda self, value: None)
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    pkgutil.iter_importer_modules.register(zipimport.zipimporter, _iter_zip_modules)
    # importers made before this hold their own reference to the
    # directory; the property now shadows it
    for imp in list(sys.path_importer_cache.values()):
        if isinstance(imp, zipimport.zipimporter):
            vars(imp).pop("_files", None)


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager

    manager()
