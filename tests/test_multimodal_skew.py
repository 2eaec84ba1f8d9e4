"""Tests for the multimodal binary pipeline and the skew utilities."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from nf2pq_spark.functions.multimodal import (extract_features, resize_media,
                                              sample_frames, synthesize_media)
from nf2pq_spark.operators.skew import salted_join, two_phase_agg
from nf2pq_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def media(spark, sf_dir):
    return synthesize_media(load_table(spark, sf_dir, "documents")).cache()


def test_media_schema_and_content(media):
    row = media.first()
    assert isinstance(row.content, (bytes, bytearray)) and len(row.content) == 16
    assert row.media_type == "image" and row.width >= 64


def test_feature_extraction_matches_bytes(media):
    feats = {r.media_id: r for r in extract_features(media).collect()}
    for r in media.limit(5).collect():
        f = feats[r.media_id]
        raw = bytes(r.content)
        assert f.n_bytes == 16
        assert f.sum_bytes == sum(raw)
        assert f.max_byte == max(raw)
        assert f.mean_byte == sum(raw) // 16


def test_real_decode_backend_is_stubbed(media):
    with pytest.raises(Exception) as exc_info:
        extract_features(media, backend="pil").collect()
    assert "NotImplementedError" in str(exc_info.value) or isinstance(
        exc_info.value, NotImplementedError)


def test_resize_subsamples(media):
    out = resize_media(media, target=8).collect()
    assert all(len(r.content) == 8 and r.width == 8 for r in out)


def test_frame_sampling_one_to_many(media):
    frames = sample_frames(media, every=4)
    per_item = {r.media_id: r.n for r in
                frames.groupBy("media_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    meta = {r.media_id: r.n_frames for r in media.collect()}
    for mid, n in per_item.items():
        assert n == (meta[mid] + 3) // 4  # ceil(n_frames / every)


def test_salted_join_matches_plain_join(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey", "l_quantity")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    plain = (li.join(s, li.l_suppkey == s.s_suppkey)
             .groupBy("s_name").agg(F.sum("l_quantity").alias("q")))
    salted = (salted_join(li.withColumnRenamed("l_suppkey", "k"),
                          s.withColumnRenamed("s_suppkey", "k"), on="k", buckets=4)
              .groupBy("s_name").agg(F.sum("l_quantity").alias("q")))
    assert {(r.s_name, r.q) for r in plain.collect()} == \
           {(r.s_name, r.q) for r in salted.collect()}


def test_salt_splits_full_duplicate_rows(spark):
    """The salt must distribute even FULL-duplicate rows of a hot key
    (retransmit storms: identical tuples) — a content hash mapped every
    copy to one bucket and the straggler survived salting."""
    from nf2pq_spark.operators.skew import _row_salt

    dup = spark.range(1).select(F.lit(7).alias("k"), F.lit("x").alias("v"))
    hot = dup.unionAll(dup)
    for _ in range(7):
        hot = hot.unionAll(hot)  # 256 identical rows
    hot = hot.repartition(4)
    n_buckets = (hot.withColumn("__s", _row_salt(hot, 8))
                 .select("__s").distinct().count())
    assert n_buckets == 8


def test_null_media_rows_do_not_fail_the_stage(spark):
    """A NULL content / n_frames cell must degrade (empty buffer, 1
    frame), not TypeError inside the Python worker."""
    from nf2pq_spark.functions.multimodal import (MEDIA_SCHEMA,
                                                  extract_features,
                                                  resize_media, sample_frames)

    rows = [(1, "image", b"\x01\x02\x03\x04", 64, 48, 4, 16000),
            (2, "image", None, 64, 48, None, 16000)]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {r.media_id: r for r in extract_features(media).collect()}
    assert feats[2].n_bytes == 0 and feats[2].sum_bytes == 0
    resized = {r.media_id: r for r in resize_media(media, target=8).collect()}
    assert resized[2].content == b"\x00" * 8
    frames = sample_frames(media, every=1).collect()
    assert {r.media_id for r in frames} == {1, 2}


def test_two_phase_agg_matches_plain(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    plain = {(r.user_id, r.n, r.mx) for r in
             ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"),
                                       F.max("value").alias("mx")).collect()}
    two = {(r.user_id, r.n, r.mx) for r in
           two_phase_agg(ev, "user_id",
                         [("value", "count", "n"), ("value", "max", "mx")],
                         buckets=8).collect()}
    assert plain == two


def test_batch_partitioned_sink_prunes(spark, sf_dir, new_dir):
    """S2: partitionBy batch sink produces a layout the scanner prunes."""
    ev = load_table(spark, sf_dir, "events").withColumn("date", F.to_date("ts"))
    out = new_dir("batch_sink") + "/ev"
    ev.write.mode("overwrite").partitionBy("date").parquet(out)
    assert any(d.startswith("date=") for d in os.listdir(out))
    back = spark.read.parquet(out).filter(F.col("date") == "2024-01-05")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "date" in plan.split("PartitionFilters")[1][:120]
    n_expected = ev.filter(F.col("date") == "2024-01-05").count()
    assert back.count() == n_expected


def test_compact_parquet_reduces_files(spark, sf_dir, new_dir):
    """Compaction rewrites a many-small-file dataset into few files with
    identical contents; partitioned mode keeps the hive layout at one
    file per partition."""
    from nf2pq_spark.operators.compact import compact_parquet, dataset_bytes

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    base = new_dir("compact")
    src = base + "/src"
    ev.repartition(64).write.parquet(src)  # simulate micro-batch debris
    assert len([f for f in os.listdir(src) if f.endswith(".parquet")]) >= 32
    assert dataset_bytes(spark, src) > 0

    out = compact_parquet(spark, src, base + "/dst", target_mb=512)
    files = [f for f in os.listdir(base + "/dst") if f.endswith(".parquet")]
    assert len(files) == 1  # tiny dataset packs into a single target file
    assert out.count() == ev.count()
    a = ev.agg(F.sum("value").cast("decimal(20,2)").alias("s")).collect()[0].s
    b = out.agg(F.sum("value").cast("decimal(20,2)").alias("s")).collect()[0].s
    assert a == b

    evd = ev.withColumn("part", (F.col("user_id") % 3).cast("int"))
    srcp = base + "/srcp"
    evd.repartition(16).write.partitionBy("part").parquet(srcp)
    outp = compact_parquet(spark, srcp, base + "/dstp", partition_col="part")
    for d in os.listdir(base + "/dstp"):
        if d.startswith("part="):
            inner = [f for f in os.listdir(f"{base}/dstp/{d}") if f.endswith(".parquet")]
            assert len(inner) == 1
    assert outp.count() == evd.count()


def test_two_phase_agg_property_vs_plain(spark):
    """Random frames, random bucket counts: the salted partial/final
    decomposition must be exactly the plain groupBy for every
    decomposable aggregate."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    row = st.tuples(st.integers(0, 5), st.integers(-1000, 1000))

    @settings(max_examples=8, deadline=None)
    @given(st.lists(row, min_size=1, max_size=80),
           st.integers(1, 32))
    def run(rows, buckets):
        df = spark.createDataFrame(rows, "k long, v long")
        plain = {(r.k, r.n, r.s, r.mn, r.mx) for r in
                 df.groupBy("k").agg(
                     F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"),
                     F.min("v").alias("mn"), F.max("v").alias("mx"))
                 .collect()}
        two = {(r.k, r.n, r.s, r.mn, r.mx) for r in
               two_phase_agg(df, "k",
                             [("v", "count", "n"), ("v", "sum", "s"),
                              ("v", "min", "mn"), ("v", "max", "mx")],
                             buckets=buckets).collect()}
        assert two == plain

    run()


def test_corrupt_frame_count_is_railed_not_a_dos(spark):
    """One hostile metadata row claiming n_frames=2^31-1 must not loop
    the worker billions of times emitting empty frames: sample_frames
    clamps to MAX_FRAMES (mirrored by the mm2 oracle's LEAST), so the
    fan-out from a corrupt record is bounded while short buffers keep
    their documented empty-tail-frame semantics below the rail."""
    from nf2pq_spark.functions.multimodal import (MAX_FRAMES, MEDIA_SCHEMA,
                                                  sample_frames)

    rows = [(1, "video", b"\x01\x02\x03\x04", 64, 48, 2**31 - 1, 16000),
            (2, "video", b"\x01\x02\x03\x04", 64, 48, 6, 16000)]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    every = 100_000
    frames = sample_frames(media, every=every).collect()
    per = {mid: [r for r in frames if r.media_id == mid] for mid in (1, 2)}
    # corrupt row: ceil(MAX_FRAMES / every) frames, not ~21k of them
    assert len(per[1]) == (MAX_FRAMES + every - 1) // every
    # honest row (below the rail): unchanged ceil(nf / every) semantics
    assert len(per[2]) == 1 and per[2][0].frame_no == 0
