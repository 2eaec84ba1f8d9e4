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


class _DropZipSubpackageImporters:
    """First ``sys.meta_path`` entry: finds nothing, and forgets the
    per-sub-package importers of a zipped ``pyspark`` whenever import
    caches are invalidated.

    Spark puts ``pyspark.zip`` first on the Python worker path, so a
    worker caches one ``zipimporter`` per imported pyspark sub-package,
    and every task starts with ``importlib.invalidate_caches()``, which
    makes each of them re-read the whole archive directory (~0.1 s per
    task). That call invokes ``invalidate_caches`` on each meta path
    entry in order, so this one drops the prefixed importers before
    ``PathFinder`` re-reads what is left: the archive-root importers
    (empty prefix), once per archive, so a changed archive is still
    picked up. A later sub-package import rebuilds its importer from
    zipimport's directory cache without a re-read. Dropping on every
    invalidation, not once, matters: a worker that imports a new pyspark
    sub-package afterwards caches prefixed importers again. The package
    is imported during a task, so the next task's invalidation is the
    first to drop. A no-op when pyspark comes from site-packages (the
    driver).
    """

    @classmethod
    def find_spec(cls, fullname, path=None, target=None):
        return None

    @classmethod
    def invalidate_caches(cls) -> None:
        for path, finder in list(sys.path_importer_cache.items()):
            if isinstance(finder, zipimport.zipimporter) and finder.prefix:
                sys.path_importer_cache.pop(path, None)


sys.meta_path.insert(0, _DropZipSubpackageImporters)
