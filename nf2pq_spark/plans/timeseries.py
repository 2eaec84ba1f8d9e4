"""Time-series / event-table operators (SURVEY §2.3 J8, §2.9 batch forms).

The events table is the stand-in for the reference's flow stream; the
batch-mode window queries here are the per-interval traffic rollups that
are nf2pq's characteristic reports, expressed with F.window /
F.session_window so exactly the same plan shape runs under Structured
Streaming (see streaming/).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.asof import asof_join
from ..sources.tables import load_table
from .helpers import dsum, m, msql, osum
from .registry import register


@register(
    "t1_tumbling_hour",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS bucket, event_type,
           COUNT(*) AS n, {osum(msql('value'), 'sum_value')}
    FROM events WHERE ts IS NOT NULL  -- F.window drops null-ts rows
    GROUP BY 1, 2
    """,
    description="tumbling 1h window rollup (T1) — the canonical flow-traffic "
    "report. Scale: single shuffle on (bucket,type); partial agg map-side.",
    tags=("T1",),
    bench=True,
)
def t1_tumbling_hour(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum(m("value"), "sum_value"))
        .select(F.col("window.start").alias("bucket"), "event_type", "n", "sum_value")
    )


@register(
    "t1b_tumbling_15min",
    oracle="""
    SELECT time_bucket(INTERVAL '15 minutes', ts) AS bucket,
           COUNT(*) AS n,
           COUNT(DISTINCT user_id) AS n_users
    FROM events WHERE ts IS NOT NULL  -- F.window drops null-ts rows
    GROUP BY 1
    """,
    description="tumbling 15-minute buckets with distinct users (T1)",
    tags=("T1",),
)
def t1b_tumbling_15min(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "15 minutes"))
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("user_id").alias("n_users"))
        .select(F.col("window.start").alias("bucket"), "n", "n_users")
    )


@register(
    "t2_sliding_window",
    oracle="""
    WITH x AS (SELECT time_bucket(INTERVAL '15 minutes', ts) AS b, value
           FROM events WHERE ts IS NOT NULL),  -- F.window drops null ts
         u AS (SELECT b AS ws, value FROM x
               UNION ALL
               SELECT b - INTERVAL 15 MINUTE AS ws, value FROM x)
    SELECT ws AS window_start, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS sum_value
    FROM u GROUP BY 1
    """,
    description="sliding 30min/15min windows (T2): every event lands in two "
    "overlapping windows",
    tags=("T2",),
)
def t2_sliding_window(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "30 minutes", "15 minutes"))
        .agg(F.count(F.lit(1)).alias("n"), dsum(m("value"), "sum_value"))
        .select(F.col("window.start").alias("window_start"), "n", "sum_value")
    )


@register(
    "t3_session_window",
    oracle="""
    WITH o AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      -- ts IS NOT NULL: F.session_window drops null-ts rows
      FROM events WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    )
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
    description="gap-based session windows, 30min gap (T3). Session ends "
    "when the next event is >= gap away (F.session_window semantics).",
    tags=("T3",),
)
def t3_session_window(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


@register(
    "j8_asof_join",
    oracle="""
    -- NULL-ts probes split out: same DuckDB ASOF NULL-as-+inf hazard as
    -- j8c (see that oracle's comment); a LEFT as-of join keeps the row
    -- with a null payload
    SELECT p.event_id, p.user_id, p.ts, c.ts AS click_ts
    FROM (SELECT * FROM events
          WHERE event_type = 'purchase' AND ts IS NOT NULL) p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    UNION ALL
    SELECT event_id, user_id, ts, NULL AS click_ts
    FROM events WHERE event_type = 'purchase' AND ts IS NULL
    """,
    description="as-of join (J8): latest click at-or-before each purchase, "
    "per user — union-tag + window implementation (operators.asof), one "
    "shuffle total",
    tags=("J8",),
    bench=True,
)
def j8_asof_join(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", "ts", F.col("ts").alias("click_ts"))
    )
    return asof_join(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="ts",
        payload=["click_ts"], how="left",
    )


@register(
    "j8c_asof_hot_key",
    oracle="""
    WITH e AS (
      SELECT event_id, ts, event_type,
             CASE WHEN user_id % 5 <> 0 THEN 0 ELSE user_id END AS su
      FROM events
    )
    -- NULL-ts probes are split out explicitly: a row with an unknown
    -- time can match NOTHING, but a LEFT as-of join must still keep it
    -- (null payload). DuckDB's ASOF operator instead sorts the NULL
    -- probe as +infinity and "matches" it to the latest right row — a
    -- wrong answer the UNION branch overrides (r7 hostile-corpus find;
    -- the Spark operator guards this in asof.py)
    SELECT p.event_id, p.su AS user_id, p.ts, c.ts AS click_ts
    FROM (SELECT * FROM e WHERE event_type = 'purchase'
                            AND ts IS NOT NULL) p
    ASOF LEFT JOIN (SELECT * FROM e WHERE event_type = 'click') c
      ON p.su = c.su AND p.ts >= c.ts
    UNION ALL
    SELECT event_id, su AS user_id, ts, NULL AS click_ts
    FROM e WHERE event_type = 'purchase' AND ts IS NULL
    """,
    description="as-of join under 80/20 key skew (J8 + skew resilience): "
    "user ids are remapped so ~80% of events share ONE key, then joined "
    "with operators.asof.asof_join_bucketed — the segmented-scan variant "
    "that windows per (key, day-bucket) and carries last-seen values "
    "across buckets as PHANTOM rows unioned under the data (one "
    "full-width shuffle + two tiny summary stages, no join — 3 exchanges "
    "total vs the r2 formulation's 6). The plain one-window formulation "
    "would serialize the hot key into a single task (window partitions "
    "are not AQE-splittable, unlike joins); here the hot timeline splits "
    "into ~30 day-tasks. Identical semantics property-tested against the "
    "plain operator (incl. negative time axes); bench.py reports the "
    "skew ratio vs the uniform j8 with its documented noise envelope.",
    tags=("J8", "J14"),
    bench=True,
)
def j8c_asof_hot_key(spark, sf_dir):
    from ..operators.asof import asof_join_bucketed

    ev = load_table(spark, sf_dir, "events").withColumn(
        "su", F.when(F.col("user_id") % 5 != 0, F.lit(0).cast("long"))
        .otherwise(F.col("user_id")))
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select("event_id", "su", "ts"))
    clicks = (ev.filter(F.col("event_type") == "click")
              .select("su", "ts", F.col("ts").alias("click_ts")))
    return asof_join_bucketed(
        purchases, clicks, on="su", left_ts="ts", right_ts="ts",
        payload=["click_ts"], how="left", bucket="1 day",
    ).withColumnRenamed("su", "user_id")


@register(
    "rl1_hypertable_rollup",
    oracle="""
    SELECT date_trunc('day', ts) AS bucket, event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS sum_value,
           MIN(value) AS min_value, MAX(value) AS max_value
    FROM events
    WHERE ts IS NOT NULL  -- the hourly rollup is F.window-built
    GROUP BY 1, 2
    """,
    description="continuous aggregate (hypertable rollup): daily stats "
    "answered from a persisted hourly rollup table, not the raw events — "
    "decomposable aggs re-aggregate exactly (operators.rollup). Scale: the "
    "coarse query scans the small partitioned aggregate only.",
    tags=("T1", "S2"),
    bench=True,
)
def rl1_hypertable_rollup(spark, sf_dir):
    from ..operators.rollup import build_rollup, query_rollup
    from .helpers import materialize_once

    # materialize once per source-fixture IDENTITY (the continuous
    # aggregate is maintained incrementally in production —
    # tests/test_streaming.py covers that); repeated queries then show
    # the rollup's point: answering from the small aggregate, not the
    # raw events.
    path = materialize_once(
        "rollup", sf_dir, ("events",),
        lambda out: build_rollup(load_table(spark, sf_dir, "events"), out))
    return query_rollup(spark, path, grain="day")


@register(
    "t5_dedup_keys",
    oracle="""
    SELECT user_id, event_type, COUNT(*) AS n_minutes
    FROM (SELECT DISTINCT user_id, event_type, date_trunc('minute', ts) AS mb
          FROM events) t
    GROUP BY user_id, event_type
    """,
    description="exact dedup on composite key (T5 batch form): distinct "
    "(user, type, minute) occurrences",
    tags=("T5",),
)
def t5_dedup_keys(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select("user_id", "event_type", F.date_trunc("minute", "ts").alias("mb"))
        .dropDuplicates(["user_id", "event_type", "mb"])
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n_minutes"))
    )


@register(
    "t6_gap_fill",
    oracle="""
    WITH days AS (
        SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
                                      TIMESTAMP '2024-01-30',
                                      INTERVAL 1 DAY)) AS day
    ),
    users AS (SELECT DISTINCT user_id FROM events),
    daily AS (
        SELECT user_id, date_trunc('day', ts) AS day, COUNT(*) AS n,
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
               / 100.0 AS day_value
        FROM events GROUP BY 1, 2
    )
    SELECT u.user_id, d.day,
           COALESCE(n, 0) AS n_filled,
           last_value(day_value IGNORE NULLS) OVER (
               PARTITION BY u.user_id ORDER BY d.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_value
    FROM days d CROSS JOIN users u
    LEFT JOIN daily ON daily.user_id = u.user_id AND daily.day = d.day
    """,
    description="calendar gap-fill with LOCF (hypertable "
    "time_bucket_gapfill parity): dense day×user scaffold from "
    "sequence(), left join of daily rollups, zero-fill counts and "
    "last-observation-carried-forward values via last(ignorenulls) over an "
    "explicit ROWS frame (default frames differ between engines). Scale: "
    "the scaffold is dims-only (days × users, both ≪ fact); the fact "
    "aggregates BEFORE joining, so the big table shuffles once on "
    "(user, day) and the LOCF window runs on the small dense grid.",
    tags=("T1", "W2", "J2"),
)
def t6_gap_fill(spark, sf_dir):
    from pyspark.sql.window import Window

    from .helpers import cents

    ev = load_table(spark, sf_dir, "events")
    days = spark.range(1).select(
        F.explode(F.sequence(
            F.lit("2024-01-01").cast("timestamp_ntz"),
            F.lit("2024-01-30").cast("timestamp_ntz"),
            F.expr("INTERVAL 1 DAY"))).alias("day"))
    users = ev.select("user_id").distinct()
    daily = (
        ev.groupBy("user_id", F.date_trunc("day", "ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"),
             (F.sum(cents("value")).cast("double") / 100.0).alias("day_value"))
    )
    grid = days.crossJoin(users)
    joined = grid.join(
        daily,
        (grid.user_id == daily.user_id) & (grid.day == daily.day),
        "left",
    ).select(grid.user_id, grid.day, "n", "day_value")
    w = (Window.partitionBy("user_id").orderBy("day")
         .rowsBetween(Window.unboundedPreceding, 0))
    return joined.select(
        "user_id", "day",
        F.coalesce(F.col("n"), F.lit(0)).alias("n_filled"),
        F.last("day_value", ignorenulls=True).over(w).alias("locf_value"),
    )


@register(
    "t8_cohort_retention",
    oracle="""
    WITH a AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
    ),
    c AS (
      SELECT user_id, MIN(wk) AS cohort FROM a GROUP BY user_id
    )
    SELECT c.cohort,
           CAST(datediff('day', c.cohort, a.wk) / 7 AS BIGINT)
             AS week_offset,
           CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_active
    FROM a JOIN c ON a.user_id = c.user_id
    GROUP BY 1, 2
    """,
    description="weekly cohort retention: users bucketed by first-active "
    "week, counted per (cohort, weeks-since-cohort) — the standard "
    "product-analytics retention triangle, here the per-exporter "
    "device-liveness report of the flow domain. Scale: the raw stream "
    "collapses to distinct (user, week) FIRST (map-side combine), so "
    "the self-join and both aggregations run on |users|x|weeks| rows, "
    "not events; the cohort table broadcasts.",
    tags=("T1", "A3", "J10"),
)
def t8_cohort_retention(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    a = ev.select("user_id",
                  F.date_trunc("week", "ts").alias("wk")).distinct()
    c = a.groupBy("user_id").agg(F.min("wk").alias("cohort"))
    return (a.join(F.broadcast(c), "user_id")
            .groupBy("cohort",
                     (F.datediff("wk", "cohort") / 7).cast("bigint")
                     .alias("week_offset"))
            .agg(F.countDistinct("user_id").cast("bigint")
                 .alias("n_active")))


# -- exponential smoothing ---------------------------------------------------
#
# Geometric-weight trailing smoother (alpha = 1/2, depth 8): the classic
# EWMA recursion s_n = a*x_n + (1-a)*s_{n-1} truncated to its last 8 terms
# so every weight is an exact power of two. With the money column viewed as
# integer cents, numerator and denominator are exact BIGINT sums — the
# final double division is bit-identical cross-engine, no rounding anywhere.
_EWMA_DEPTH = 8

_EWMA_ORACLE_TERMS = " + ".join(
    f"COALESCE(lag(c, {j}) OVER w * {1 << (_EWMA_DEPTH - 1 - j)}, 0)"
    for j in range(_EWMA_DEPTH))
_EWMA_ORACLE_WEIGHTS = " + ".join(
    f"CASE WHEN lag(c, {j}) OVER w IS NOT NULL"
    f" THEN {1 << (_EWMA_DEPTH - 1 - j)} ELSE 0 END"
    for j in range(_EWMA_DEPTH))


@register(
    "w8_ewma_smoothing",
    oracle=f"""
    WITH src AS (
      SELECT user_id, ts, event_id,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
      FROM events
    )
    SELECT user_id, event_id,
           CAST(({_EWMA_ORACLE_TERMS}) AS DOUBLE)
             / CAST(({_EWMA_ORACLE_WEIGHTS}) AS DOUBLE) / 100.0 AS ewma
    FROM src
    -- ts NULLS FIRST explicit: Spark ASC defaults to NULLS FIRST, DuckDB
    -- to NULLS LAST — a NULL-ts observation would otherwise sit at
    -- opposite ends of the EWMA timeline per engine (r7 hostile find)
    WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id)
    """,
    description="per-user EWMA smoothing of the value stream (W3): "
    "truncated geometric-weight trailing average, power-of-two weights "
    "over integer cents so the result is exact. Scale: one shuffle on "
    "user_id; each partition sorts locally and the fixed-depth lag frame "
    "streams — state is 8 rows per key, no unbounded frame.",
    tags=("W2", "W3"),
)
def w8_ewma_smoothing(spark, sf_dir):
    from pyspark.sql import Window

    from .helpers import cents

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", cents("value").alias("c"))
    w = Window.partitionBy("user_id").orderBy(
        F.asc_nulls_first("ts"), "event_id")
    num = None
    den = None
    for j in range(_EWMA_DEPTH):
        wt = 1 << (_EWMA_DEPTH - 1 - j)
        lagged = F.lag("c", j).over(w)
        term = F.coalesce(lagged * wt, F.lit(0))
        present = F.when(lagged.isNotNull(), F.lit(wt)).otherwise(F.lit(0))
        num = term if num is None else num + term
        den = present if den is None else den + present
    return ev.select(
        "user_id", "event_id",
        (num.cast("double") / den.cast("double") / 100.0).alias("ewma"))


@register(
    "w9_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    )
    SELECT prev_type, event_type AS next_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) AS DOUBLE)
             / CAST(SUM(COUNT(*)) OVER (PARTITION BY prev_type) AS DOUBLE)
             AS p
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    """,
    description="event-type Markov transition matrix (W2+A1): lag pairs "
    "per user session stream, transition counts and row-normalized "
    "probabilities. Scale: lag shuffles once on user_id; the transition "
    "space is |types|^2 (tiny), so the normalizing window runs post-agg.",
    tags=("W2", "A1"),
)
def w9_transition_matrix(spark, sf_dir):
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    seq = ev.select(
        "event_type",
        F.lag("event_type").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("prev_type"))
    counts = (seq.filter(F.col("prev_type").isNotNull())
              .groupBy("prev_type", F.col("event_type").alias("next_type"))
              .agg(F.count(F.lit(1)).alias("n")))
    return counts.select(
        "prev_type", "next_type", "n",
        (F.col("n").cast("double")
         / F.sum("n").over(Window.partitionBy("prev_type")).cast("double"))
        .alias("p"))


# -- traffic anomaly detection ----------------------------------------------
#
# The flow-monitoring alert every collector grows eventually: flag hourly
# buckets whose event volume spikes above the trailing baseline. Kept exact
# cross-engine by comparing integers — a bucket is anomalous when
# n * trail_cnt > 2 * trail_sum (i.e. n > 2x the trailing mean) — so no
# stddev floats enter the hash; the reported ratio divides two exact BIGINTs.
@register(
    "t9_traffic_anomaly",
    oracle="""
    WITH b AS (
      SELECT date_trunc('hour', ts) AS bucket, event_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ), t AS (
      SELECT bucket, event_type, n,
             CAST(SUM(n) OVER w AS BIGINT) AS trail_sum,
             CAST(COUNT(n) OVER w AS BIGINT) AS trail_cnt
      FROM b
      WINDOW w AS (PARTITION BY event_type ORDER BY bucket
                   ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)
    )
    SELECT bucket, event_type, n, trail_sum, trail_cnt,
           CAST(n * trail_cnt AS DOUBLE) / CAST(trail_sum AS DOUBLE)
             AS spike_ratio
    FROM t
    WHERE trail_cnt >= 3 AND n * trail_cnt > 2 * trail_sum
    """,
    description="hourly traffic-spike detection (T1+W3): per-type hourly "
    "volumes compared against the trailing 6-bucket baseline, flagged when "
    "volume exceeds 2x the trailing mean — integer cross-multiplication "
    "keeps the predicate exact. Scale: the window runs on the pre-aggregated "
    "bucket relation (|hours|x|types| rows), so the only big shuffle is the "
    "map-side-combined count; baseline state per key is 6 rows.",
    tags=("T1", "W3", "A1"),
)
def t9_traffic_anomaly(spark, sf_dir):
    from pyspark.sql import Window

    buckets = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").start.alias("bucket"), "event_type")
        .agg(F.count(F.lit(1)).alias("n")))
    w = (Window.partitionBy("event_type").orderBy("bucket")
         .rowsBetween(-6, -1))
    trailed = buckets.select(
        "bucket", "event_type", "n",
        F.sum("n").over(w).alias("trail_sum"),
        F.count("n").over(w).alias("trail_cnt"))
    return (trailed
            .filter((F.col("trail_cnt") >= 3)
                    & (F.col("n") * F.col("trail_cnt")
                       > 2 * F.col("trail_sum")))
            .select("bucket", "event_type", "n", "trail_sum", "trail_cnt",
                    (F.col("n").cast("double") * F.col("trail_cnt")
                     / F.col("trail_sum")).alias("spike_ratio")))


@register(
    "j8b_asof_forward",
    oracle="""
    SELECT c.event_id, c.user_id, c.ts, p.ts AS next_purchase_ts
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id AND c.ts <= p.ts
    """,
    description="forward as-of join (J8): for each click, the NEXT "
    "purchase at-or-after it per user (time-to-convert attribution) — "
    "the same union-tag + window operator running descending, graded "
    "against DuckDB's forward ASOF (ON c.ts <= p.ts). Scale: still ONE "
    "shuffle on the user key; direction only flips the window order.",
    tags=("J8",),
)
def j8b_asof_forward(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    clicks = (ev.filter(F.col("event_type") == "click")
              .select("event_id", "user_id", "ts"))
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select("user_id", "ts", F.col("ts").alias("next_purchase_ts")))
    return asof_join(
        clicks, purchases, on="user_id", left_ts="ts", right_ts="ts",
        payload=["next_purchase_ts"], how="left", direction="forward",
    )


@register(
    "t10_dynamic_session_gap",
    oracle="""
    WITH g AS (
      SELECT user_id, ts,
             ts + CASE WHEN event_type = 'error' THEN INTERVAL 5 MINUTE
                       ELSE INTERVAL 30 MINUTE END AS win_end
      -- ts IS NOT NULL: F.session_window drops null-ts rows
      FROM events WHERE ts IS NOT NULL
    ), o AS (
      SELECT user_id, ts, win_end,
             MAX(win_end) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) AS prev_max
      FROM g
    ), s AS (
      SELECT user_id, ts, win_end,
             SUM(CASE WHEN prev_max IS NULL OR ts > prev_max
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts
                     ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    )
    SELECT user_id, MIN(ts) AS session_start,
           MAX(win_end) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, sid
    """,
    description="session windows with a per-event DYNAMIC gap (T3 "
    "variant, Spark 3.2+ expression-gap form): error events only hold a "
    "session open 5 minutes, everything else 30 — the real-world shape "
    "where activity types time out differently. Dynamic-gap semantics "
    "verified live and encoded in the oracle: an event MERGES when its "
    "ts <= the running max of previous (ts + gap) (equality merges — "
    "unlike the static-gap path, where a gap exactly equal to the "
    "duration starts a new session, see t3), and the session end is "
    "max(ts + gap) over members, not last-ts + gap. Scale: same single "
    "shuffle on the session key as t3; state per open session only.",
    tags=("T3", "F2"),
)
def t10_dynamic_session_gap(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    gap = F.when(F.col("event_type") == "error", "5 minutes") \
        .otherwise("30 minutes")
    return (
        ev.groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


@register(
    "t11_chained_window_rollup",
    oracle="""
    WITH b AS (
      SELECT time_bucket(INTERVAL 15 MINUTE, ts) AS b15, event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events WHERE ts IS NOT NULL  -- F.window drops null-ts rows
      GROUP BY 1, 2
    )
    SELECT time_bucket(INTERVAL 1 HOUR, b15) AS hour_start, event_type,
           CAST(SUM(n) AS BIGINT) AS n,
           CAST(SUM(cents) AS BIGINT) AS cents,
           CAST(COUNT(*) AS BIGINT) AS n_buckets
    FROM b GROUP BY 1, 2
    """,
    description="chained windowed aggregation via F.window_time (T1 "
    "variant, Spark 3.4+): a 15-minute rollup re-aggregated into hourly "
    "buckets by windowing ON the windowed column — the state-shrinking "
    "pattern for long-horizon streaming rollups (the hourly agg holds "
    "4 rows per key-hour instead of every event; in streaming form each "
    "level checkpoints independently). n_buckets counts non-empty "
    "15-minute buckets per hour. Integer cents keep both levels exact. "
    "Scale: level-1 shuffle is the only full-data exchange; level 2 "
    "aggregates 96 rows/key/day.",
    tags=("T1", "F2"),
)
def t11_chained_window_rollup(spark, sf_dir):
    from .helpers import cents as _cents

    ev = load_table(spark, sf_dir, "events")
    lvl1 = (
        ev.groupBy(F.window("ts", "15 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(_cents("value")).alias("cents"))
    )
    lvl2 = (
        lvl1.groupBy(F.window(F.window_time("window"), "1 hour"),
                     "event_type")
        .agg(F.sum("n").alias("n"), F.sum("cents").alias("cents"),
             F.count(F.lit(1)).alias("n_buckets"))
    )
    return lvl2.select(
        F.col("window.start").alias("hour_start"),
        "event_type", "n", "cents", "n_buckets",
    )
