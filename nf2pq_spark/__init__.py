"""nf2pq_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capability surface of poorting/nf2pq
(a Rust NetFlow/IPFIX → Parquet/ClickHouse streaming ETL collector; the
reference checkout at /root/reference is a moved-repo stub, see SURVEY.md §0)
as an idiomatic Spark engine:

- batch analytics over Parquet via the DataFrame/Catalyst path,
- Structured Streaming for the collector/rotation/sink pipeline,
- an LLM-data-pipeline operator library (dedup, similarity search,
  text analysis, multimodal columns) designed for 100 TB scale.

Packages:
    sources/    fixture + file-format loaders, IPFIX/NetFlow decoder
    functions/  scalar function batteries (net/flow, text, vectors)
    operators/  composite operators (as-of join, dedup, similarity, sessionize)
    plans/      the graded query registry (queries() + oracle_sql())
    streaming/  Structured Streaming jobs and sinks
"""

import sys
import zipimport

__version__ = "0.1.0"


class _FindsNothing:
    """Path entry finder for an archive that holds no Python."""

    @staticmethod
    def find_spec(fullname, target=None):
        return None

    @staticmethod
    def invalidate_caches() -> None:
        pass


def _holds_python(archive: str) -> bool:
    """Whether zipimport's cached directory of ``archive`` lists a
    ``.py``/``.pyc`` entry (True when nothing is cached yet)."""
    files = zipimport._zip_directory_cache.get(archive)
    return files is None or any(name.endswith((".py", ".pyc"))
                                for name in files)


class _DropZipSubpackageImporters:
    """First ``sys.meta_path`` entry: finds nothing, and forgets the zip
    importers that would re-read an archive whenever import caches are
    invalidated.

    Spark puts ``pyspark.zip`` first on the Python worker path, so a
    worker caches one ``zipimporter`` per imported pyspark sub-package,
    and every task starts with ``importlib.invalidate_caches()``, which
    makes each of them re-read the whole archive directory (~0.1 s per
    task). That call invokes ``invalidate_caches`` on each meta path
    entry in order, so this one runs before ``PathFinder`` re-reads what
    is left:

    - it drops the prefixed (sub-package) importers, so each archive
      that holds Python is re-read once, by its root importer, and a
      changed archive is still picked up; a later sub-package import
      rebuilds its importer from zipimport's directory cache without a
      re-read;
    - it replaces the root importer of an archive whose cached
      directory holds no Python at all (the spark-core jar Spark also
      puts on the worker path: 5,359 entries, ~47 ms a read) with
      :class:`_FindsNothing`, so that archive is never re-read; it had
      nothing to import.

    Dropping on every invalidation, not once, matters: a worker that
    imports a new pyspark sub-package afterwards caches prefixed
    importers again. The package is imported during a task, so the next
    task's invalidation is the first to drop. A no-op when pyspark comes
    from site-packages (the driver).
    """

    @classmethod
    def find_spec(cls, fullname, path=None, target=None):
        return None

    @classmethod
    def invalidate_caches(cls) -> None:
        for path, finder in list(sys.path_importer_cache.items()):
            if not isinstance(finder, zipimport.zipimporter):
                continue
            if finder.prefix:
                sys.path_importer_cache.pop(path, None)
            elif not _holds_python(finder.archive):
                sys.path_importer_cache[path] = _FindsNothing


sys.meta_path.insert(0, _DropZipSubpackageImporters)
