"""SparkSession construction and session-level configuration.

Two concerns live here:

1. ``get_spark`` builds a local session with the configuration this engine
   needs (UTC, AQE, Arrow, sized shuffle partitions). Tests and bench use it.
2. ``ensure_session_conf`` applies the *runtime-settable* subset of that
   configuration to an externally-provided session (the grading driver hands
   us its own SparkSession; we cannot rebuild it). Verified: every conf set
   here is dynamically settable on PySpark 4.1.2.

Static confs take effect only when a session is built, so only sessions
from ``get_spark`` get them. One matters for speed: the size of Spark's
cache of generated query classes (``spark.sql.codegen.cache.maxEntries``).
A session the engine did not build keeps Spark's 100 entries and
recompiles a query's code once more than 100 other classes were compiled
after it; results are the same either way.

Scale notes (100 TB design point): shuffle partition count here is sized for
local[32] at sf0.1; on a real cluster AQE coalesces/splits post-shuffle
partitions at runtime, so the static number only seeds the first stage.
``spark.sql.files.maxPartitionBytes`` stays at the 128 MB default, which is
the right split granularity for large Parquet scans. File listing runs on
the driver only under a ``local[...]`` master (``LOCAL_CONF``); cluster
masters keep Spark's fan-out, a listing job across executors once a
listing holds more than 32 paths, which is how thousands of remote-store
paths get listed.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import SparkSession

#: Confs that are safe to set at runtime on any session (driver's included).
RUNTIME_CONF: dict[str, str] = {
    # fixtures store naive timestamps; pin both engines to UTC semantics
    "spark.sql.session.timeZone": "UTC",
    # events.parquet stores TIMESTAMP(NANOS); Spark 4 refuses it without this
    # (arrives as bigint ns; sources.tables converts to timestamp once)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # runtime re-planning: coalesce shuffle partitions, skew-join splitting,
    # broadcast conversion — all essential at the 100 TB design point
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # let AQE rewrite sort-merge joins to shuffled-hash at runtime when
    # every post-shuffle partition's map output is under the threshold
    # (default 0 = never). SHJ skips sorting both sides — the dominant
    # join cost when rows carry array payloads (l25 signatures, g's
    # adjacency lists). Scale-safe BY CONSTRUCTION: the decision uses
    # measured partition sizes per query, so a 100 TB join whose
    # partitions exceed the threshold stays sort-merge; matched to
    # spark.sql.adaptive.advisoryPartitionSizeInBytes (64m default) per
    # the Spark tuning guide, so the build side a task must hash is
    # bounded by the same number AQE coalesces partitions toward.
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "64m",
    # Arrow transfer for every pandas UDF / toPandas path
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Python UDTFs also cross the JVM boundary Arrow-batched
    # (BatchEvalPythonUDTF → ArrowEvalPythonUDTF)
    "spark.sql.execution.pythonUDTF.arrow.enabled": "true",
    # right-size shuffles for the local grading env (the 200 default wastes
    # task overhead at sf≤0.1); AQE coalesces further at runtime. On a real
    # cluster this would be sized to executor count — see bench.py.
    "spark.sql.shuffle.partitions": "32",
}


#: Confs set only when the session's master is ``local[...]``.
LOCAL_CONF: dict[str, str] = {
    # Spark lists more than this many paths (default 32) with a Spark job
    # of one task per path. Under a local master those tasks run on the
    # driver JVM's own threads, so the job only adds fixed cost per path:
    # a 60-file drain paid a 60-task job in getBatch (median 500 ms,
    # against 21 ms listed on the driver; 6 drains each, 4-core VM). A
    # value no local listing reaches keeps every listing on the driver.
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "1000000",
}


def _is_local(spark: SparkSession) -> bool:
    """True for ``local`` and ``local[...]`` masters (one JVM), false for
    ``local-cluster[...]`` and every cluster master."""
    master = spark.sparkContext.master
    return master == "local" or master.startswith("local[")


#: per-session "already applied" marker attribute (r13 verdict item 9):
#: ensure_session_conf is called from every load_table — ~10 py4j
#: conf round-trips (~2 ms each) per query invocation, inside the
#: bench's timed region. The marker lives ON the session object, so it
#: dies with the session and a fresh driver session self-configures
#: exactly once. One sentinel conf is still read per call, so a driver
#: that changes it mid-session gets the full set re-applied.
_CONF_ATTR = "_nf2pq_conf_applied"
_SENTINEL_CONF = "spark.sql.session.timeZone"


def ensure_session_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine conf to an existing session (idempotent).

    Shuffle partitions are only normalized when the session still carries
    Spark's 200 default (the driver's vanilla session) — a deliberately
    sized value (``get_spark(cpus=8)``, a user's own setting) is
    respected rather than stomped back to 32 on every ``load_table``.
    ``LOCAL_CONF`` is applied on a ``local[...]`` master only.
    """
    if (getattr(spark, _CONF_ATTR, False)
            and spark.conf.get(_SENTINEL_CONF)
            == RUNTIME_CONF[_SENTINEL_CONF]):
        return spark
    setattr(spark, _CONF_ATTR, True)
    conf = dict(RUNTIME_CONF, **(LOCAL_CONF if _is_local(spark) else {}))
    for k, v in conf.items():
        try:
            if k == "spark.sql.shuffle.partitions":
                if spark.conf.get(k, "200") == "200":
                    spark.conf.set(k, v)
            else:
                spark.conf.set(k, v)
        except Exception:
            # a static conf on some build — leave the session's value in place
            pass
    return spark


@functools.lru_cache(maxsize=None)
def _path_class(jvm):
    return jvm.org.apache.hadoop.fs.Path


def hadoop_path(spark: SparkSession):
    """The session JVM's ``org.apache.hadoop.fs.Path`` class, resolved once
    per gateway: each walk of ``spark._jvm.org.apache.hadoop.fs.Path`` is
    five reflective py4j lookups (~1.5 ms), against ~0.13 ms for the
    ``fs.exists`` call it usually serves."""
    return _path_class(spark._jvm)


def get_spark(app_name: str = "nf2pq_spark", cpus: int | str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) a local session configured for this engine.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores; shuffle partitions
    default to the core count (right-sized for local mode — at cluster scale
    AQE re-coalesces anyway).
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus in ("*", None) else max(int(cpus), 4)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Spark's JVM-wide LRU of compiled generated-code classes
        # (default 100). The perfbench analytics queries need 331
        # distinct classes, so at 100 every pass evicted and recompiled
        # its own code (300-340 Janino compiles a pass; 0 at this size).
        # All 260 registry queries, streaming included, need ~2,400.
        # Metaspace grows 23-33 KB per class, so 4096 bounds the kept
        # code at ~95-135 MB. A static conf: it takes effect only here,
        # when the session is built.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    # AFTER the blanket loop, so the computed size isn't overwritten by
    # RUNTIME_CONF's driver-session default (the old order left every
    # cpus/shuffle_partitions argument silently ignored)
    builder = builder.config("spark.sql.shuffle.partitions",
                             str(shuffle_partitions))
    spark = builder.getOrCreate()
    ensure_session_conf(spark)
    # getOrCreate may have returned a pre-existing session whose conf the
    # builder couldn't change — make the sizing explicit either way
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return spark
