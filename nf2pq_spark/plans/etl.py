"""Warehouse-maintenance ETL operators: SCD2 merge and Z-order layout.

The reference's ClickHouse leg makes it a warehouse loader; these are the
two maintenance operations such a loader's users run constantly — slowly-
changing-dimension upserts (MERGE semantics, expressed as joins since
plain Spark has no MERGE INTO without a lakehouse format) and
space-filling-curve layout for multi-column data skipping.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.layout import zvalue2 as zvalue
from ..sources.tables import load_table
from .registry import register


def _ozvalue(x: str, y: str, bits: int = 8) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


@register(
    "z1_zorder_bucketing",
    oracle=f"""
    WITH z AS (
      SELECT ({_ozvalue('(l_partkey % 256)', '(l_suppkey % 256)')}) AS zv,
             l_quantity
      FROM lineitem
    )
    SELECT CAST(zv >> 10 AS BIGINT) AS z_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(zv) AS BIGINT) AS z_min,
           CAST(MAX(zv) AS BIGINT) AS z_max
    FROM z GROUP BY 1
    """,
    description="Z-order (Morton) layout buckets: interleave the low 8 "
    "bits of (partkey, suppkey) into a space-filling-curve key and roll "
    "up per 1024-value bucket (zv >> 10) — the file-layout computation behind "
    "multi-column data skipping (write with repartitionByRange(zv) + "
    "sortWithinPartitions(zv) and BOTH key columns prune via parquet "
    "min/max). Scale: the z-value is pure codegen bit math on the scan; "
    "one map-side-combined shuffle on the bucket key.",
    tags=("F10", "S2"),
)
def z1_zorder_bucketing(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    zv = zvalue(F.col("l_partkey") % 256, F.col("l_suppkey") % 256)
    return (li.select(zv.alias("zv"))
            .groupBy(F.shiftright("zv", 10).cast("bigint").alias("z_bucket"))
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.min("zv").cast("bigint").alias("z_min"),
                 F.max("zv").cast("bigint").alias("z_max")))


@register(
    "etl1_scd2_merge",
    oracle="""
    WITH updates AS (
      SELECT c_custkey, 'SEGMENT_NEW' AS new_segment
      FROM customer WHERE c_custkey % 7 = 0
    )
    SELECT c.c_custkey,
           CASE WHEN u.c_custkey IS NOT NULL THEN u.new_segment
                ELSE c.c_mktsegment END AS c_mktsegment,
           CASE WHEN u.c_custkey IS NOT NULL THEN 2 ELSE 1 END AS version,
           (u.c_custkey IS NOT NULL) AS is_current_changed
    FROM customer c LEFT JOIN updates u ON c.c_custkey = u.c_custkey
    UNION ALL
    SELECT c.c_custkey, c.c_mktsegment AS c_mktsegment,
           1 AS version, FALSE AS is_current_changed
    FROM customer c JOIN updates u ON c.c_custkey = u.c_custkey
    """,
    description="SCD type-2 merge (MERGE INTO semantics as joins): an "
    "update set touches 1/7th of the customer dimension; changed keys "
    "get a closed-out historical row (version 1) plus a new current row "
    "(version 2), unchanged keys pass through — the standard warehouse "
    "dimension-maintenance op, lakehouse-format-free. Scale: the update "
    "set broadcasts (dimension deltas are small); the dimension is "
    "scanned once per branch with no shuffle at all — at 100 TB the "
    "rewrite is partition-pruned to partitions holding changed keys.",
    tags=("J2", "U1"),
)
def etl1_scd2_merge(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment")
    updates = (cust.filter(F.col("c_custkey") % 7 == 0)
               .select("c_custkey", F.lit("SEGMENT_NEW").alias("new_segment")))
    u = F.broadcast(updates)
    merged = (cust.alias("c")
              .join(u.alias("u"), F.col("c.c_custkey") == F.col("u.c_custkey"),
                    "left")
              .select(
                  F.col("c.c_custkey").alias("c_custkey"),
                  F.when(F.col("u.c_custkey").isNotNull(),
                         F.col("u.new_segment"))
                   .otherwise(F.col("c.c_mktsegment")).alias("c_mktsegment"),
                  F.when(F.col("u.c_custkey").isNotNull(), 2)
                   .otherwise(1).alias("version"),
                  F.col("u.c_custkey").isNotNull()
                   .alias("is_current_changed")))
    history = (cust.alias("c")
               .join(u.alias("u"),
                     F.col("c.c_custkey") == F.col("u.c_custkey"))
               .select(F.col("c.c_custkey").alias("c_custkey"),
                       F.col("c.c_mktsegment").alias("c_mktsegment"),
                       F.lit(1).alias("version"),
                       F.lit(False).alias("is_current_changed")))
    return merged.unionByName(history)


@register(
    "etl2_partition_overwrite",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS d,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS sum_value
    FROM events
    WHERE NOT (strftime(ts, '%Y-%m-%d') = '2024-01-15'
               AND event_type = 'view')
    GROUP BY 1
    """,
    description="dynamic partition overwrite round-trip (the lake "
    "restatement op): the events table is written date-partitioned, then "
    "one day is restated (its 'view' rows dropped — a late correction) "
    "with partitionOverwriteMode=dynamic, which rewrites ONLY that day's "
    "partition and leaves the other 29 untouched. The read-back rollup "
    "must show the corrected final state. Scale: dynamic overwrite is how "
    "a 100 TB date-partitioned table takes corrections — the rewrite cost "
    "is one partition, not the table; readers prune by partition "
    "directory.",
    tags=("S2", "P2"),
)
def etl2_partition_overwrite(spark, sf_dir):
    import os
    import shutil

    from .helpers import materialize_once

    def build(path):
        ev = load_table(spark, sf_dir, "events").withColumn(
            "d", F.date_format("ts", "yyyy-MM-dd"))
        # initial build: full (static) overwrite, date-partitioned layout
        ev.write.partitionBy("d").mode("overwrite").parquet(path)
        # restatement: recompute one day, dynamic overwrite of that
        # partition only
        corrected = ev.filter(
            (F.col("d") == "2024-01-15") & (F.col("event_type") != "view"))
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode",
                              "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            if corrected.limit(1).count() == 0:
                # dynamic overwrite writes no partitions for an empty frame,
                # which would silently leave the stale day in place — an
                # empty restatement means "delete the partition"
                shutil.rmtree(os.path.join(path, "d=2024-01-15"),
                              ignore_errors=True)
            else:
                corrected.write.partitionBy("d").mode("overwrite").parquet(path)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    path = materialize_once("etl2", sf_dir, ("events",), build)
    df = spark.read.parquet(path)
    return (
        df.groupBy(F.col("d").cast("string").alias("d"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(10,2)"))
             .cast("double").alias("sum_value"),
        )
    )


@register(
    "etl3_compaction_roundtrip",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(user_id) AS BIGINT) AS sum_user,
           CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY event_type
    """,
    description="small-file compaction round-trip (operators/compact.py): "
    "events written as ~200 tiny files (the streaming sink's accretion "
    "pattern), compacted to size-targeted files via metadata-only "
    "planning (getContentSummary, no data scan), read back and "
    "aggregated under the hash gate — plus a hard assert that the file "
    "count actually shrank ≥10x. Scale: small files are the top scan-"
    "killer of micro-batch sinks at 100 TB (a task + footer + metadata "
    "round-trip each); compaction is one shuffle to the target count.",
    tags=("S2", "ETL"),
)
def etl3_compaction_roundtrip(spark, sf_dir):
    import os

    from ..operators.compact import compact_parquet
    from .helpers import materialize_once

    # cached layout: a fresh directory per invocation would leave a
    # ~201-file tree in /tmp on every run and redo the 200-file write
    def build(base):
        small = os.path.join(base, "small")
        compacted = os.path.join(base, "big")
        ev = load_table(spark, sf_dir, "events").select(
            "event_type", "user_id", "value")
        ev.repartition(200).write.parquet(small)  # the accreted-sink layout
        compact_parquet(spark, small, compacted, target_mb=512)
        n_small = len([f for f in os.listdir(small) if f.endswith(".parquet")])
        n_big = len([f for f in os.listdir(compacted) if f.endswith(".parquet")])
        if n_big * 10 > n_small:  # plain statement: must survive python -O
            raise RuntimeError(f"compaction didn't shrink 10x: "
                               f"{n_small} -> {n_big}")

    base = materialize_once("etl3", sf_dir, ("events",), build)
    out = spark.read.parquet(os.path.join(base, "big"))
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("user_id").alias("sum_user"),
        F.sum(F.col("value").cast("decimal(10,2)")).cast("double")
        .alias("sum_value"),
    )


@register(
    "etl4_snapshot_diff",
    oracle="""
    WITH base AS (
      SELECT c_custkey AS k,
             CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS bal
      FROM customer
    ), snap_old AS (
      SELECT * FROM base WHERE k % 11 <> 0
    ), snap_new AS (
      SELECT k, CASE WHEN k % 7 = 0 THEN bal + 1000 ELSE bal END AS bal
      FROM base WHERE k % 13 <> 0
    ), d AS (
      SELECT COALESCE(o.k, n.k) AS k, o.bal AS ob, n.bal AS nb
      FROM snap_old o FULL OUTER JOIN snap_new n ON o.k = n.k
    )
    SELECT CASE WHEN ob IS NULL THEN 'insert'
                WHEN nb IS NULL THEN 'delete'
                WHEN ob <> nb THEN 'update'
                ELSE 'unchanged' END AS change_type,
           COUNT(*) AS n, MIN(k) AS min_key, MAX(k) AS max_key
    FROM d GROUP BY 1
    """,
    description="CDC-style snapshot diff: two deterministic snapshots of the "
    "customer dimension (drop-every-11th vs drop-every-13th with balance "
    "bumps on every 7th) full-outer joined on the key and classified into "
    "insert/delete/update/unchanged — the change-capture shape a warehouse "
    "loader emits between loads. Balances compared in exact integer cents "
    "(helpers.cents convention), so classification is engine-exact. Scale: "
    "one sort-merge shuffle per snapshot on the join key; classification "
    "and the final aggregate are map-side-partial.",
    tags=("ETL", "J2"),
)
def etl4_snapshot_diff(spark, sf_dir):
    from .helpers import cents

    base = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), cents("c_acctbal").alias("bal")
    )
    snap_old = base.filter(F.col("k") % 11 != 0).select("k", F.col("bal").alias("ob"))
    snap_new = (
        base.filter(F.col("k") % 13 != 0)
        .select(
            "k",
            F.when(F.col("k") % 7 == 0, F.col("bal") + 1000)
            .otherwise(F.col("bal")).alias("nb"),
        )
    )
    d = snap_old.join(snap_new, "k", "full_outer")
    change = (
        F.when(F.col("ob").isNull(), "insert")
        .when(F.col("nb").isNull(), "delete")
        .when(F.col("ob") != F.col("nb"), "update")
        .otherwise("unchanged")
    )
    return d.groupBy(change.alias("change_type")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("k").alias("min_key"),
        F.max("k").alias("max_key"),
    )
