"""Metadata-memo hygiene (r13 verdict item 8 / advice): the load_table
schema+frame memos must EVICT a superseded signature (one live entry per
path, never unbounded growth), must see rewrites inside nested
directories, and the per-session conf application must stay idempotent.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from nf2pq_spark.session import LOCAL_CONF, RUNTIME_CONF, ensure_session_conf
from nf2pq_spark.sources import tables
from nf2pq_spark.sources.tables import load_table


def _write(spark, path: str, df) -> None:
    df.write.mode("overwrite").parquet(path)


def test_rewritten_fixture_drops_stale_entry(spark, tmp_path):
    sf = str(tmp_path)
    path = f"{sf}/lineitem.parquet"
    _write(spark, path, spark.range(5).select(F.col("id").alias("a")))
    df1 = load_table(spark, sf, "lineitem")
    assert df1.columns == ["a"] and df1.count() == 5
    # rewrite the fixture with a DIFFERENT schema at the same path
    _write(spark, path, spark.range(7).select(
        F.col("id").alias("b"), (F.col("id") * 2).alias("c")))
    df2 = load_table(spark, sf, "lineitem")
    assert df2.columns == ["b", "c"] and df2.count() == 7
    # the memos hold exactly ONE entry for the path — the superseded
    # signature was REPLACED, not accumulated beside (bounded growth)
    assert len([k for k in tables._SCHEMA_CACHE if k == path]) == 1
    per_session = getattr(spark, tables._FRAME_ATTR)
    assert len([k for k in per_session if k == path]) == 1
    assert per_session[path][1] is df2


def test_nested_directory_rewrite_invalidates(spark, tmp_path):
    """A rewrite INSIDE a partition subdirectory must change the path
    signature (r13 advice: the one-level scandir missed depth ≥ 2)."""
    sf = str(tmp_path)
    path = f"{sf}/events.parquet"
    (spark.range(10)
     .select(F.col("id").alias("event_id"), (F.col("id") % 2).alias("part"))
     .write.partitionBy("part").parquet(path))
    sig1 = tables._path_signature(path)
    # overwrite ONE partition subdirectory in place
    (spark.range(20).select(F.col("id").alias("event_id"))
     .write.mode("overwrite").parquet(f"{path}/part=0"))
    sig2 = tables._path_signature(path)
    assert sig1 != sig2



def test_unlistable_subdirectory_disables_the_memo(spark, tmp_path,
                                                   monkeypatch):
    """os.walk skips a directory it cannot list. A signature built from
    that partial listing must not fill the memos: the signature is None
    and the read goes uncached. (chmod cannot model this: the superuser
    ignores it, so the listing failure is injected.)"""
    sf = str(tmp_path)
    path = f"{sf}/events.parquet"
    (spark.range(10)
     .select(F.col("id").alias("event_id"), (F.col("id") % 2).alias("part"))
     .write.partitionBy("part").parquet(path))
    assert tables._path_signature(path) is not None
    real_scandir = os.scandir
    victim = os.path.join(path, "part=1")

    def scandir(p="."):
        if os.path.abspath(p) == victim:
            raise PermissionError(13, "Permission denied", p)
        return real_scandir(p)

    monkeypatch.setattr(os, "scandir", scandir)
    assert tables._path_signature(path) is None
    tables._SCHEMA_CACHE.pop(path, None)
    getattr(spark, tables._FRAME_ATTR, {}).pop(path, None)
    df = tables.read_parquet_cached_schema(spark, path)
    assert sorted(df.columns) == ["event_id", "part"]
    assert path not in tables._SCHEMA_CACHE
    load_table(spark, sf, "events")
    assert path not in getattr(spark, tables._FRAME_ATTR, {})

def test_ensure_session_conf_memoized_and_idempotent(spark):
    ensure_session_conf(spark)
    assert getattr(spark, "_nf2pq_conf_applied", False)
    # values actually applied (spot-check two non-default pins)
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert spark.conf.get(
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold") == \
        RUNTIME_CONF["spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold"]
    # the test session's master is local[...]: file listing stays on the
    # driver
    assert spark.sparkContext.master.startswith("local[")
    assert spark.conf.get(
        "spark.sql.sources.parallelPartitionDiscovery.threshold") == \
        LOCAL_CONF["spark.sql.sources.parallelPartitionDiscovery.threshold"]
    # second call is a no-op (the memo short-circuits after one conf read)
    assert ensure_session_conf(spark) is spark


def test_ensure_session_conf_repins_a_drifted_time_zone(spark):
    ensure_session_conf(spark)
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        ensure_session_conf(spark)
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_frame_memo_lives_on_the_session(spark, tmp_path):
    """No module-global keeps session-keyed frames alive (r13 advice:
    the WeakKeyDictionary entries could never be collected)."""
    sf = str(tmp_path)
    _write(spark, f"{sf}/orders.parquet", spark.range(3))
    load_table(spark, sf, "orders")
    assert not hasattr(tables, "_FRAME_CACHE")
    assert f"{sf}/orders.parquet" in getattr(spark, tables._FRAME_ATTR)
