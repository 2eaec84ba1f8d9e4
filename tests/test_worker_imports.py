"""Python workers import pyspark from ``$SPARK_HOME/python/lib/pyspark.zip``
and start every task with ``importlib.invalidate_caches()``, which makes
each cached ``zipimporter`` re-read the whole archive directory. Importing
``nf2pq_spark`` makes every later invalidation drop the per-sub-package
importers (non-empty prefix) first, so that call re-reads each archive
once, and never again re-read an archive that holds no Python (the
spark-core jar, also on the worker path); these tests pin that the drop
happens, keeps the archive roots that hold Python, leaves later imports
working, and holds for reused Spark workers.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

import pandas as pd
import pytest

_LIB = os.path.join(os.environ.get("SPARK_HOME", ""), "python", "lib")
PYSPARK_ZIP = os.path.join(_LIB, "pyspark.zip")
CORE_JAR = next(iter(glob.glob(os.path.join(
    os.environ.get("SPARK_HOME", ""), "jars", "spark-core_*.jar"))), "")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

needs_zip = pytest.mark.skipif(
    not (os.path.isfile(PYSPARK_ZIP) and os.path.isfile(CORE_JAR)),
    reason="no $SPARK_HOME/python/lib/pyspark.zip or spark-core jar")

_PROBE = r"""
import importlib, json, sys, zipimport
import pyspark.worker, pyspark.sql.pandas.serializers  # noqa: F401

def zip_importers():
    return {path: finder for path, finder in sys.path_importer_cache.items()
            if isinstance(finder, zipimport.zipimporter)}

def prefixed():
    return sum(1 for f in zip_importers().values() if f.prefix)

before = prefixed()
import nf2pq_spark  # noqa: F401
importlib.invalidate_caches()
after = prefixed()
roots = sorted(f.archive for f in zip_importers().values() if not f.prefix)
assert "pyspark.ml.linalg" not in sys.modules
import pyspark.ml.linalg
regrown = prefixed()
reads = []
_read_directory = zipimport._read_directory
zipimport._read_directory = lambda archive: (reads.append(archive),
                                             _read_directory(archive))[1]
importlib.invalidate_caches()
print(json.dumps({
    "prefixed_before": before, "prefixed_after": after, "roots": roots,
    "fresh_file": pyspark.ml.linalg.__file__, "regrown": regrown,
    "prefixed_invalidated": prefixed(), "reads": sorted(reads),
}))
"""


@needs_zip
def test_import_drops_zip_subpackage_importers():
    py4j_zip = glob.glob(os.path.join(_LIB, "py4j-*-src.zip"))[0]
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        [PYSPARK_ZIP, py4j_zip, CORE_JAR, REPO]))
    out = subprocess.run([sys.executable, "-c", _PROBE], env=env, cwd=REPO,
                         capture_output=True, text=True, check=True)
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["prefixed_before"] > 2
    assert got["prefixed_after"] == 0
    # the jar holds no Python: its importer is gone, not just re-read
    assert got["roots"] == sorted([PYSPARK_ZIP, py4j_zip])
    assert got["fresh_file"].startswith(PYSPARK_ZIP + os.sep)
    # a sub-package imported later caches prefixed importers again; the
    # next invalidation (the start of a Spark task) drops them
    assert got["regrown"] > 0
    assert got["prefixed_invalidated"] == 0
    # each archive that holds Python is re-read once; the jar never
    assert got["reads"] == sorted([PYSPARK_ZIP, py4j_zip])


def _probe_tasks(spark, n_tasks: int) -> pd.DataFrame:
    def probe(batches):
        import os
        import sys
        import zipimport

        zips = [f for f in list(sys.path_importer_cache.values())
                if isinstance(f, zipimport.zipimporter)]
        prefixed = sum(1 for f in zips if f.prefix)
        jars = sum(1 for f in zips if f.archive.endswith(".jar"))
        import nf2pq_spark  # noqa: F401
        import pyspark

        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [os.getpid()], "prefixed": [prefixed],
                            "jars": [jars], "pyspark_file": [pyspark.__file__]})

    return (spark.range(0, n_tasks, numPartitions=n_tasks)
            .mapInPandas(probe, "pid long, prefixed long, jars long, "
                                "pyspark_file string")
            .toPandas())


@needs_zip
def test_reused_workers_start_tasks_without_subpackage_importers(spark):
    # enough tasks to take every idle worker of the pool at least once
    n_tasks = 4 * spark.sparkContext.defaultParallelism
    first = _probe_tasks(spark, n_tasks)
    second = _probe_tasks(spark, n_tasks)
    if not second["pyspark_file"].str.startswith(PYSPARK_ZIP).all():
        pytest.skip("workers import pyspark from outside pyspark.zip")
    # a worker forked during the second job imports the package there;
    # the ones the first job already ran in must report nothing to re-read,
    # even after other tests' tasks imported more pyspark sub-packages
    reused = second[second["pid"].isin(first["pid"])]
    assert len(reused) > 0
    assert reused["prefixed"].tolist() == [0] * len(reused)
    assert reused["jars"].tolist() == [0] * len(reused)
