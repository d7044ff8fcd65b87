"""Streaming-extension corpus (SURVEY.md §2.8/§7 phase 7a): windowed
aggregations over `events`, run in batch mode so the DuckDB oracle can
check them (time_bucket / lag-based sessionization SQL).

Timestamps are truncated to seconds in BOTH engines before windowing:
the fixture is nanosecond-precision, Spark reads microseconds — second
granularity removes the truncation mismatch entirely (FIXTURES.md).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pigout_spark.queries.registry import SQL_DSUM, dsum, query, t
from pigout_spark.streaming.windows import session_agg, sliding_agg, tumbling_agg


def _events_s(spark, sf_dir):
    """events with ts truncated to whole seconds (cross-engine safe)."""
    return t(spark, sf_dir, "events").withColumn(
        "ts", F.date_trunc("second", "ts").cast("timestamp_ntz")
    )


@query(
    "stream_tumbling",
    f"""
    SELECT time_bucket(INTERVAL '1 hour',
                       CAST(date_trunc('second', ts) AS TIMESTAMP)) AS window_start,
           event_type,
           COUNT(*) AS n,
           {SQL_DSUM("value", "sum_value")}
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling(spark, sf_dir):
    """Tumbling 1-hour event-time windows per event_type.  Same code
    runs under readStream + withWatermark; batch mode here for the
    oracle (streaming/windows.py)."""
    e = _events_s(spark, sf_dir)
    out = tumbling_agg(
        e,
        "ts",
        "1 hour",
        ["event_type"],
        [F.count(F.lit(1)).alias("n"), dsum("value", "sum_value")],
    )
    return out.select("window_start", "event_type", "n", "sum_value")


@query(
    "stream_sliding",
    """
    WITH e AS (
      SELECT CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts FROM events
    ), assigned AS (
      SELECT time_bucket(INTERVAL '30 minutes', ts) AS window_start FROM e
      UNION ALL
      SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL 30 MINUTE FROM e
    )
    SELECT window_start, COUNT(*) AS n FROM assigned GROUP BY 1
    """,
)
def stream_sliding(spark, sf_dir):
    """Sliding 1-hour windows every 30 minutes: each event lands in two
    windows (starts at tb30(ts) and tb30(ts)−30m — the oracle's
    phase-shifted union)."""
    e = _events_s(spark, sf_dir)
    out = sliding_agg(e, "ts", "1 hour", "30 minutes", [], [F.count(F.lit(1)).alias("n")])
    return out.select("window_start", "n")


@query(
    "stream_session",
    sql="""
    WITH e AS (
      SELECT user_id, CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts FROM events
    ), flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sess AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
)
def stream_session(spark, sf_dir):
    """Session windows, 30-minute gap, per user.  Spark merges events
    with gap ≤ 30m — a gap of exactly the threshold still merges
    (verified empirically; tests/test_streaming.py) — so the oracle's
    lag rule is strict `>`."""
    e = _events_s(spark, sf_dir)
    out = session_agg(
        e, "ts", "30 minutes", ["user_id"], [F.count(F.lit(1)).alias("n_events")]
    )
    return out.select("user_id", "session_start", "n_events")


@query(
    "x_stream_join",
    """
    WITH e AS (
      SELECT user_id, event_type, event_id,
             CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts
      FROM events
    )
    SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n
    FROM e a JOIN e b
      ON a.user_id = b.user_id AND a.event_id <> b.event_id
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 5 MINUTE
    GROUP BY a.event_type, b.event_type
    """,
)
def x_stream_join(spark, sf_dir):
    """Stream-stream interval join (streaming/windows.py:interval_join)
    in its batch-checkable form: per-user event pairs within a 5-minute
    follow window, counted by type transition.  The streaming run with
    watermarked state eviction is pinned by
    test_interval_join_runs_as_real_stream."""
    from pigout_spark.streaming.windows import interval_join

    e = _events_s(spark, sf_dir).select("user_id", "event_type", "event_id", "ts")
    j = interval_join(e, e, ["user_id"], "ts", "ts", "0 seconds", "5 minutes")
    return (
        j.filter(F.col("l.event_id") != F.col("r.event_id"))
        .groupBy(
            F.col("l.event_type").alias("type_a"),
            F.col("r.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "x_stream_dedup",
    "SELECT DISTINCT user_id, event_type FROM events",
)
def x_stream_dedup(spark, sf_dir):
    """Stream dedup (dropDuplicatesWithinWatermark under readStream;
    plain dropDuplicates in batch — streaming/windows.py:stream_dedup).
    Projected to the key columns so the batch result is deterministic
    and equals DISTINCT keys for the oracle."""
    e = _events_s(spark, sf_dir)
    from pigout_spark.streaming.windows import stream_dedup

    return stream_dedup(e, ["user_id", "event_type"]).select(
        "user_id", "event_type"
    )


@query(
    "x_events_resample",
    """
    WITH e AS (
      SELECT user_id AS k,
             CAST(floor(epoch(date_trunc('second', ts)) / 21600) AS BIGINT)
               * 21600 AS bucket,
             value AS v
      FROM events
    ), agg AS (
      SELECT k, bucket, CAST(COUNT(*) AS BIGINT) AS n, SUM(v) AS s
      FROM e GROUP BY k, bucket
    ), spans AS (
      SELECT k, MIN(bucket) AS lo, MAX(bucket) AS hi FROM e GROUP BY k
    ), grid AS (
      SELECT k, unnest(range(lo, hi + 21600, 21600)) AS bucket FROM spans
    ), j AS (
      SELECT g.k, g.bucket, a.n, a.s
      FROM grid g LEFT JOIN agg a ON g.k = a.k AND g.bucket = a.bucket
    )
    SELECT k AS user_id, bucket,
           coalesce(n, 0) AS n_events,
           ROUND(s, 6) AS sum6,
           ROUND(last_value(s IGNORE NULLS) OVER (
             PARTITION BY k ORDER BY bucket
             ROWS UNBOUNDED PRECEDING), 6) AS ffill6
    FROM j
    """,
)
def x_events_resample(spark, sf_dir):
    """Time-series densification: 6-hour resample per user with
    materialized empty buckets and forward-filled sums — grid rows,
    gap zeros, and the fill chain all hash-checked (sums rounded to
    6: few-addend doubles, x_text_unigram convention)."""
    from pigout_spark.streaming.windows import resample_events

    out = resample_events(
        t(spark, sf_dir, "events"), interval_seconds=21600
    )
    return out.select(
        "user_id",
        F.unix_timestamp("bucket_ts").alias("bucket"),
        "n_events",
        F.round("sum_value", 6).alias("sum6"),
        F.round("ffill_value", 6).alias("ffill6"),
    )


@query(
    "x_asof_join",
    """
    WITH l AS (
      SELECT user_id, CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts,
             event_id FROM events WHERE event_type = 'purchase'
    ), r AS (
      SELECT user_id, CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts,
             event_id AS view_id, value AS view_value
      FROM events WHERE event_type = 'view'
    )
    SELECT l.user_id, l.event_id,
           CAST(epoch(l.ts) AS BIGINT) AS ts_s,
           CAST(epoch(r.ts) AS BIGINT) AS matched_s,
           r.view_id, ROUND(r.view_value, 6) AS vv6
    FROM l ASOF LEFT JOIN r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def x_asof_join(spark, sf_dir):
    """AS-OF JOIN (the prompt's canonical missing-in-Spark operator):
    every purchase matched to the user's most recent prior view —
    union-marker + forward-fill implementation vs DuckDB's NATIVE
    ASOF JOIN as the oracle.  One shuffle on the key, no range-join
    pair blowup; second-truncated timestamps are tie-free on this
    fixture (verified), so the match is a total function."""
    from pigout_spark.operators.joins import asof_join

    ev = _events_s(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts",
        F.col("event_id").alias("view_id"),
        F.col("value").alias("view_value"),
    )
    out = asof_join(purchases, views, by="user_id")
    return out.select(
        "user_id", "event_id",
        F.unix_timestamp("ts").alias("ts_s"),
        F.unix_timestamp("matched_ts").alias("matched_s"),
        "view_id",
        F.round("view_value", 6).alias("vv6"),
    )


@query(
    "x_range_join",
    """
    WITH c AS (
      SELECT user_id, CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts,
             event_id AS click_id FROM events WHERE event_type = 'click'
    ), e AS (
      SELECT user_id,
             CAST(date_trunc('second', ts) AS TIMESTAMP)
               - INTERVAL 300 SECOND AS iv_start,
             CAST(date_trunc('second', ts) AS TIMESTAMP)
               + INTERVAL 300 SECOND AS iv_end,
             event_id AS error_id
      FROM events WHERE event_type = 'error'
    )
    SELECT c.user_id, c.click_id, e.error_id
    FROM c JOIN e
      ON c.user_id = e.user_id AND c.ts BETWEEN e.iv_start AND e.iv_end
    """,
)
def x_range_join(spark, sf_dir):
    """RANGE JOIN (point-in-interval): clicks within ±5 min of an
    error by the same user — bin-bucketed equi-join (bin = 600 s, so
    each interval covers ≤2 bins) with the exact BETWEEN residual;
    the oracle is the plain BETWEEN join."""
    from pigout_spark.operators.joins import range_join

    ev = _events_s(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        (F.col("ts") - F.expr("INTERVAL 300 SECONDS")).alias("iv_start"),
        (F.col("ts") + F.expr("INTERVAL 300 SECONDS")).alias("iv_end"),
        F.col("event_id").alias("error_id"),
    )
    out = range_join(
        clicks, errors, "ts", "iv_start", "iv_end",
        bin_seconds=600, by="user_id",
    )
    return out.select("user_id", "click_id", "error_id")


@query(
    "x_rollup_timeseries",
    """
    WITH e AS (
      SELECT user_id AS k,
             CAST(floor(epoch(date_trunc('second', ts)) / 3600) AS BIGINT)
               * 3600 AS b, value AS v
      FROM events
    ),
    h AS (SELECT 3600 AS resolution, k, b AS bucket,
                 CAST(COUNT(*) AS BIGINT) AS n_events, SUM(v) AS s
          FROM e GROUP BY k, b),
    d6 AS (SELECT 21600 AS resolution, k,
                  CAST(floor(bucket / 21600) AS BIGINT) * 21600 AS bucket,
                  CAST(SUM(n_events) AS BIGINT) AS n_events, SUM(s) AS s
           FROM h GROUP BY 2, 3),
    d1 AS (SELECT 86400 AS resolution, k,
                  CAST(floor(bucket / 86400) AS BIGINT) * 86400 AS bucket,
                  CAST(SUM(n_events) AS BIGINT) AS n_events, SUM(s) AS s
           FROM d6 GROUP BY 2, 3)
    SELECT resolution, k AS user_id, bucket, n_events, ROUND(s, 6) AS sum6
    FROM (SELECT * FROM h UNION ALL SELECT * FROM d6 UNION ALL SELECT * FROM d1)
    """,
)
def x_rollup_timeseries(spark, sf_dir):
    """Hypertable rollup: 1h base aggregate from raw, 6h and 1d
    REAGGREGATED from the finer level (never re-reading raw) —
    the continuous-aggregate cascade, all three resolutions
    hash-checked in one stacked relation."""
    from pigout_spark.streaming.windows import rollup_timeseries

    out = rollup_timeseries(
        t(spark, sf_dir, "events"), [3600, 21600, 86400]
    )
    return out.select(
        "resolution", "user_id", "bucket", "n_events",
        F.round("sum_value", 6).alias("sum6"),
    )


@query(
    "x_overlap_join",
    """
    WITH c AS (
      SELECT user_id,
             CAST(date_trunc('second', ts) AS TIMESTAMP)
               - INTERVAL 120 SECOND AS c_start,
             CAST(date_trunc('second', ts) AS TIMESTAMP)
               + INTERVAL 120 SECOND AS c_end,
             event_id AS click_id
      FROM events WHERE event_type = 'click'
    ), e AS (
      SELECT user_id,
             CAST(date_trunc('second', ts) AS TIMESTAMP)
               - INTERVAL 300 SECOND AS e_start,
             CAST(date_trunc('second', ts) AS TIMESTAMP)
               + INTERVAL 300 SECOND AS e_end,
             event_id AS error_id
      FROM events WHERE event_type = 'error'
    )
    SELECT c.user_id, c.click_id, e.error_id
    FROM c JOIN e
      ON c.user_id = e.user_id
     AND c.c_start <= e.e_end AND e.e_start <= c.c_end
    """,
)
def x_overlap_join(spark, sf_dir):
    """INTERVAL OVERLAP JOIN (interval×interval): ±2-minute click
    windows overlapping ±5-minute error windows for the same user —
    bin-bucketed equi-join with canonical-bin exactly-once emission;
    the oracle is the plain overlap-predicate join."""
    from pigout_spark.operators.joins import overlap_join

    ev = _events_s(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        (F.col("ts") - F.expr("INTERVAL 120 SECONDS")).alias("c_start"),
        (F.col("ts") + F.expr("INTERVAL 120 SECONDS")).alias("c_end"),
        F.col("event_id").alias("click_id"),
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        (F.col("ts") - F.expr("INTERVAL 300 SECONDS")).alias("e_start"),
        (F.col("ts") + F.expr("INTERVAL 300 SECONDS")).alias("e_end"),
        F.col("event_id").alias("error_id"),
    )
    out = overlap_join(
        clicks, errors, "c_start", "c_end", "e_start", "e_end",
        bin_seconds=600, by="user_id",
    )
    return out.select("user_id", "click_id", "error_id")


@query(
    "x_rolling",
    """
    WITH e AS (
      SELECT user_id, event_id, value,
             CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts
      FROM events
    )
    SELECT user_id, event_id, CAST(epoch(ts) AS BIGINT) AS ts_s,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
           CAST(SUM(CAST(value AS DECIMAL(20,4))) OVER w AS DOUBLE) AS sum_1h
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch(ts)
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
)
def x_rolling(spark, sf_dir):
    """Trailing 1-hour rolling window per event (count + exact-decimal
    sum): RANGE frame ⇒ tie-safe, one key exchange + one sort, O(n)
    two-pointer evaluation (streaming/windows.py:rolling_agg)."""
    from pigout_spark.streaming.windows import rolling_agg

    ev = _events_s(spark, sf_dir).select("user_id", "event_id", "value", "ts")
    out = rolling_agg(
        ev, "ts", "user_id", 3600,
        {
            "n_1h": F.count(F.lit(1)),
            "__s": F.sum(F.col("value").cast("decimal(20,4)")),
        },
    )
    return out.select(
        "user_id", "event_id",
        F.unix_timestamp("ts").alias("ts_s"),
        "n_1h",
        F.col("__s").cast("double").alias("sum_1h"),
    )


@query(
    "x_twa",
    """
    WITH e AS (
      SELECT user_id, event_id,
             CAST(epoch(CAST(date_trunc('second', ts) AS TIMESTAMP))
                  AS BIGINT) AS s,
             CAST(CAST(value AS DECIMAL(20,4)) * 10000 AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL
    ), w AS (
      SELECT user_id, s AS st, cents,
             lead(s) OVER (PARTITION BY user_id ORDER BY s, event_id) AS en
      FROM e
    ), seg AS (
      SELECT user_id, st, en, cents
      FROM w WHERE en IS NOT NULL AND en > st
    ), ex AS (
      SELECT user_id, cents, st, en,
             unnest(range(CAST(floor(st / 21600) AS BIGINT),
                          CAST(floor((en - 1) / 21600) AS BIGINT) + 1)) AS b
      FROM seg
    ), c AS (
      SELECT user_id, b * 21600 AS bucket,
             LEAST(en, (b + 1) * 21600) - GREATEST(st, b * 21600) AS wsec,
             cents
      FROM ex
    )
    SELECT user_id, bucket, CAST(SUM(wsec) AS BIGINT) AS w_seconds,
           CAST(SUM(CAST(cents * wsec AS DECIMAL(38,0))) AS DOUBLE)
             / (10000.0 * CAST(SUM(wsec) AS BIGINT)) AS twa
    FROM c GROUP BY user_id, bucket
    """,
)
def x_twa(spark, sf_dir):
    """TIME-WEIGHTED AVERAGE, 6-hour buckets per user: LOCF segments
    split across buckets, integer-second weights, exact cents·seconds
    integral — the oracle replays the identical integer arithmetic
    (streaming/windows.py:time_weighted_avg)."""
    from pigout_spark.streaming.windows import time_weighted_avg

    ev = _events_s(spark, sf_dir)
    return time_weighted_avg(
        ev, "ts", "user_id", "value", 21600, tiebreak="event_id"
    )


@query(
    "x_ohlc",
    """
    WITH e AS (
      SELECT user_id, value,
             CAST(epoch(CAST(date_trunc('second', ts) AS TIMESTAMP))
                  AS BIGINT) AS s,
             event_id
      FROM events WHERE value IS NOT NULL
    ), b AS (
      -- composite order (s, event_id) packed into one BIGINT for
      -- arg_min/arg_max (DuckDB needs a scalar key); event_id < 10^7
      -- at every fixture SF, so the packing is collision-free
      SELECT user_id, value,
             CAST(floor(s / 21600) AS BIGINT) * 21600 AS bucket,
             s * 10000000 + event_id AS ok
      FROM e
    )
    SELECT user_id, bucket,
           arg_min(value, ok) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           arg_max(value, ok) AS close,
           CAST(COUNT(*) AS BIGINT) AS n_obs
    FROM b GROUP BY user_id, bucket
    """,
)
def x_ohlc(spark, sf_dir):
    """OHLC candles, 6-hour buckets per user — single map-side-combined
    groupBy (streaming/windows.py:ohlc_agg); the oracle packs the
    (ts, event_id) order into one BIGINT for arg_min/arg_max."""
    from pigout_spark.streaming.windows import ohlc_agg

    ev = _events_s(spark, sf_dir)
    return ohlc_agg(ev, "ts", "user_id", "value", 21600, tiebreak="event_id")


@query(
    "x_zscore",
    """
    WITH e AS (
      SELECT user_id, value, event_id,
             CAST(epoch(CAST(date_trunc('second', ts) AS TIMESTAMP))
                  AS BIGINT) AS s,
             CAST(CAST(value AS DECIMAL(20,4)) * 10000 AS BIGINT) AS c
      FROM events WHERE value IS NOT NULL
    ), st AS (
      SELECT user_id, value, event_id, s, c,
             CAST(COUNT(*) OVER w AS BIGINT) AS n,
             CAST(SUM(CAST(c AS DECIMAL(38,0))) OVER w AS DOUBLE) AS sd_,
             CAST(SUM(CAST(c AS DECIMAL(38,0)) * c) OVER w AS DOUBLE) AS s2d
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY s
                   RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW)
    ), zz AS (
      SELECT user_id, s, value, n,
             (CAST(c AS DOUBLE) - sd_ / n)
               / sqrt((s2d - sd_ * sd_ / n) / (n - 1)) AS z,
             (s2d - sd_ * sd_ / n) / (n - 1) AS var
      FROM st
    )
    SELECT user_id, s AS ts_s, ROUND(value, 6) AS v6, z,
           CAST(n AS BIGINT) AS n_window
    FROM zz WHERE n >= 5 AND var > 0 AND abs(z) > 2.0
    """,
)
def x_zscore(spark, sf_dir):
    """Rolling z-score anomaly flags (24 h trailing window per user,
    |z| > 2): exact integer window sums feed one fixed IEEE chain both
    engines execute identically (streaming/windows.py:rolling_zscore)."""
    from pigout_spark.streaming.windows import rolling_zscore

    ev = _events_s(spark, sf_dir)
    out = rolling_zscore(
        ev, "ts", "user_id", "value", 86400, threshold=2.0, min_obs=5
    )
    return out.select(
        "user_id",
        F.unix_timestamp("ts").alias("ts_s"),
        F.round("value", 6).alias("v6"),
        "z",
        "n_window",
    )


@query(
    "x_interp",
    """
    WITH e AS (
      SELECT user_id, event_id, value,
             CAST(epoch(CAST(date_trunc('second', ts) AS TIMESTAMP))
                  AS BIGINT) AS t
      FROM events WHERE value IS NOT NULL
    ), w AS (
      SELECT user_id, t, CAST(value AS DOUBLE) AS v,
             lead(t) OVER win AS t1,
             CAST(lead(value) OVER win AS DOUBLE) AS v1
      FROM e WINDOW win AS (PARTITION BY user_id ORDER BY t, event_id)
    ), seg AS (
      SELECT user_id, t, v, t1, v1,
             CAST(ceil(t / 21600.0) AS BIGINT) AS g0,
             CASE WHEN t1 IS NOT NULL THEN
               CAST(ceil(t1 / 21600.0) AS BIGINT)
                 - CASE WHEN t1 % 21600 = 0 THEN 1 ELSE 0 END
             ELSE CAST(ceil(t / 21600.0) AS BIGINT) END AS g1
      FROM w
    ), ex AS (
      SELECT user_id, t, v, t1, v1,
             unnest(range(g0, g1 + 1)) AS g
      FROM seg WHERE g1 >= g0
    )
    SELECT user_id, g * 21600 AS bucket,
           CASE WHEN t1 IS NULL OR t1 = t THEN v
                ELSE v + (v1 - v) * (CAST(g * 21600 - t AS DOUBLE)
                                     / CAST(t1 - t AS DOUBLE))
           END AS value_interp
    FROM ex WHERE t1 IS NULL OR g * 21600 < t1
    """,
)
def x_interp(spark, sf_dir):
    """Linear-interpolation resample to a 6-hour grid per user: every
    grid value is the IEEE blend of the straddling observations —
    hash-matched on the raw doubles
    (streaming/windows.py:interpolate_events)."""
    from pigout_spark.streaming.windows import interpolate_events

    ev = _events_s(spark, sf_dir)
    return interpolate_events(
        ev, 21600, "user_id", "ts", "value", tiebreak="event_id"
    )


@query(
    "x_ewma",
    """
    WITH RECURSIVE e AS (
      SELECT user_id, CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts,
             value, event_id
      FROM events WHERE value IS NOT NULL
    ), o AS (
      SELECT user_id, ts, value,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             epoch(ts) AS tsec
      FROM e
    ), rec(user_id, rn, ts, value, tsec, ewma) AS (
      SELECT user_id, rn, ts, value, tsec, value FROM o WHERE rn = 1
      UNION ALL
      SELECT o.user_id, o.rn, o.ts, o.value, o.tsec,
             pow(2.0, -(o.tsec - r.tsec)/3600.0) * r.ewma
             + (1.0 - pow(2.0, -(o.tsec - r.tsec)/3600.0)) * o.value
      FROM rec r JOIN o ON o.user_id = r.user_id AND o.rn = r.rn + 1
    )
    SELECT user_id, ts, value, ewma FROM rec
    """,
    # Hash-checked: the per-key linear recurrence replays as a recursive
    # CTE.  The one floating-point risk, libm pow, gave bit-identical
    # results in both engines over all 10k rows; every other step is
    # exact (second-truncated epochs are integer-valued doubles).
)
def x_ewma(spark, sf_dir):
    """Time-aware EWMA (halflife 1 h) per user over the event stream
    (streaming/windows.py:ewma_events — Arrow applyInPandas), replayed
    bit-for-bit by a per-key recursive-CTE oracle."""
    from pigout_spark.streaming.windows import ewma_events

    ev = _events_s(spark, sf_dir).select("user_id", "ts", "value", "event_id")
    return ewma_events(
        ev, "ts", "user_id", "value", 3600.0, tiebreak="event_id"
    )


@query(
    "x_asof_nearest",
    """
    WITH l AS (
      SELECT user_id, CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts,
             event_id FROM events WHERE event_type = 'purchase'
    ), r AS (
      SELECT user_id, CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts,
             event_id AS view_id, value AS view_value
      FROM events WHERE event_type = 'view'
    ), j AS (
      SELECT l.user_id, l.event_id, l.ts AS lts, r.ts AS rts,
             r.view_id, r.view_value,
             abs(epoch(l.ts) - epoch(r.ts)) AS ad
      FROM l JOIN r USING (user_id)
      WHERE abs(epoch(l.ts) - epoch(r.ts)) <= 600
    ), best AS (
      SELECT * FROM j
      QUALIFY row_number() OVER (
        PARTITION BY user_id, event_id
        ORDER BY ad, CASE WHEN rts <= lts THEN 0 ELSE 1 END
      ) = 1
    )
    SELECT l.user_id, l.event_id,
           CAST(epoch(l.ts) AS BIGINT) AS ts_s,
           CAST(epoch(b.rts) AS BIGINT) AS matched_s,
           b.view_id, ROUND(b.view_value, 6) AS vv6
    FROM l LEFT JOIN best b USING (user_id, event_id)
    """,
)
def x_asof_nearest(spark, sf_dir):
    """NEAREST-direction as-of join (full pandas merge_asof surface):
    every purchase matched to the user's closest view within a 10-min
    tolerance, ties to the backward side — two-fill union-marker plan
    vs the oracle's INDEPENDENT naive argmin formulation (all-pairs +
    QUALIFY row_number), so the single-shuffle plan is checked against
    ground truth (operators/joins.py:asof_join direction='nearest').
    Tie-free match on this fixture: second-truncated timestamps are
    unique per user within event type pairs (verified by the hash)."""
    from pigout_spark.operators.joins import asof_join

    ev = _events_s(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts",
        F.col("event_id").alias("view_id"),
        F.col("value").alias("view_value"),
    )
    out = asof_join(
        purchases, views, by="user_id", direction="nearest",
        tolerance_seconds=600,
    )
    return out.select(
        "user_id", "event_id",
        F.unix_timestamp("ts").alias("ts_s"),
        F.unix_timestamp("matched_ts").alias("matched_s"),
        "view_id",
        F.round("view_value", 6).alias("vv6"),
    )


@query(
    "x_merge_intervals",
    """
    WITH iv AS (
      SELECT user_id,
             CAST(date_trunc('second', ts) AS TIMESTAMP)
               - INTERVAL 300 SECOND AS iv_start,
             CAST(date_trunc('second', ts) AS TIMESTAMP)
               + INTERVAL 300 SECOND AS iv_end
      FROM events WHERE event_type = 'error'
    ), g AS (
      SELECT user_id, iv_start, iv_end,
             CASE WHEN max(epoch(iv_end)) OVER (
                    PARTITION BY user_id ORDER BY iv_start, iv_end
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  ) IS NULL
                  OR epoch(iv_start) > max(epoch(iv_end)) OVER (
                    PARTITION BY user_id ORDER BY iv_start, iv_end
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS nf
      FROM iv
    ), isl AS (
      SELECT user_id, iv_start, iv_end,
             SUM(nf) OVER (PARTITION BY user_id
                           ORDER BY iv_start, iv_end
                           ROWS UNBOUNDED PRECEDING) AS island
      FROM g
    )
    SELECT user_id,
           CAST(epoch(MIN(iv_start)) AS BIGINT) AS start_s,
           CAST(epoch(MAX(iv_end)) AS BIGINT) AS end_s,
           CAST(COUNT(*) AS BIGINT) AS n_merged
    FROM isl GROUP BY user_id, island
    """,
)
def x_merge_intervals(spark, sf_dir):
    """Incident-window construction: every error event's ±5-minute
    blast radius merged into covering envelopes per user
    (operators/joins.py:merge_intervals) — the gaps-and-islands
    running-max replayed in SQL, envelopes and merge counts
    hash-exact."""
    from pigout_spark.operators.joins import merge_intervals

    ev = _events_s(spark, sf_dir).filter(F.col("event_type") == "error")
    iv = ev.select(
        "user_id",
        (F.col("ts") - F.expr("INTERVAL 300 SECONDS")).alias("iv_start"),
        (F.col("ts") + F.expr("INTERVAL 300 SECONDS")).alias("iv_end"),
    )
    out = merge_intervals(iv, by="user_id")
    return out.select(
        "user_id",
        F.unix_timestamp("iv_start").alias("start_s"),
        F.unix_timestamp("iv_end").alias("end_s"),
        "n_merged",
    )


@query(
    "x_seasonal",
    """
    WITH daily AS (
      SELECT CAST(date_diff('day', TIMESTAMP '1992-01-01 00:00:00',
                            o_orderdate) AS BIGINT) AS idx,
             CAST(COUNT(*) AS DOUBLE) AS v
      FROM orders GROUP BY 1
    ), b AS (
      SELECT 'all' AS k, idx, v,
             SUM(CAST(v AS DECIMAL(24,8))) OVER w7 AS wsum,
             COUNT(CAST(v AS DECIMAL(24,8))) OVER w7 AS cnt,
             idx % 7 AS phase
      FROM daily
      WINDOW w7 AS (ORDER BY idx ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ), c AS (
      SELECT *, CASE WHEN cnt = 7 THEN wsum * 2 END AS t2 FROM b
    ), ph AS (
      SELECT k, phase,
             SUM(CAST(v AS DECIMAL(24,8)) * 14 - t2) AS s2,
             COUNT(*) AS n
      FROM c WHERE t2 IS NOT NULL GROUP BY k, phase
    ), ph6 AS (
      SELECT k, phase,
             ROUND(CAST(s2 AS DOUBLE) / (n * 14.0), 6) + 0.0 AS seas6
      FROM ph
    ), ctr AS (
      SELECT k, CAST(SUM(CAST(seas6 AS DECIMAL(20,6))) AS DOUBLE)
                / COUNT(*) AS m
      FROM ph6 GROUP BY k
    ), phc AS (
      SELECT ph6.k, phase, ROUND(seas6 - m, 6) + 0.0 AS sc6
      FROM ph6 JOIN ctr ON ph6.k = ctr.k
    )
    SELECT c.k, c.idx, c.v AS value,
           CAST(c.t2 AS DOUBLE) / 14.0 AS trend,
           phc.sc6 AS seasonal,
           c.v - CAST(c.t2 AS DOUBLE) / 14.0 - phc.sc6 AS resid
    FROM c LEFT JOIN phc ON c.k = phc.k AND c.phase = phc.phase
    """,
)
def x_seasonal(spark, sf_dir):
    """Weekly seasonal decomposition of the daily order-count series
    (streaming/windows.py:seasonal_decompose, odd period 7): trend /
    seasonal / residual per day, hash-matched against the full SQL
    replay — exact-decimal trend numerators (T2 = 2·Σwindow), exact
    detrended phase sums (D2 = 14·v − T2), ROUND-6 phase means, one
    IEEE division per emitted double."""
    from pigout_spark.queries.registry import t as _t
    from pigout_spark.streaming.windows import seasonal_decompose

    daily = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.datediff(
                "o_orderdate",
                F.lit("1992-01-01 00:00:00").cast("timestamp_ntz"),
            )
            .cast("bigint")
            .alias("idx")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("v"))
        .select(F.lit("all").alias("k"), "idx", "v")
    )
    out = seasonal_decompose(daily, ["k"], "idx", "v", 7)
    return out.select(
        "k", "idx", "value", "trend", "seasonal", "resid"
    )


@query(
    "x_cusum",
    """
    WITH o AS (
      SELECT o_orderpriority AS pri, o_orderdate AS od, o_orderkey AS oid,
             CAST(round(o_totalprice * 100) AS BIGINT) AS vc
      FROM orders
      WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
    ), c AS (
      SELECT pri, od, oid, vc,
             SUM(vc - 15000000 - 1000000) OVER w AS c_hi,
             SUM(15000000 - vc - 1000000) OVER w AS c_lo
      FROM o
      WINDOW w AS (PARTITION BY pri ORDER BY od, oid
                   ROWS UNBOUNDED PRECEDING)
    ), s AS (
      SELECT pri, od, vc,
             CAST(c_hi - LEAST(0, MIN(c_hi) OVER w2) AS BIGINT) AS s_hi,
             CAST(c_lo - LEAST(0, MIN(c_lo) OVER w2) AS BIGINT) AS s_lo
      FROM c
      WINDOW w2 AS (PARTITION BY pri ORDER BY od, oid
                    ROWS UNBOUNDED PRECEDING)
    )
    SELECT pri, od, vc AS value, s_hi, s_lo,
           (s_hi > 2000000000 OR s_lo > 2000000000) AS alarm
    FROM s
    """,
)
def x_cusum(spark, sf_dir):
    """Tabular CUSUM level-shift monitor over per-priority order-value
    sequences in cents (streaming/windows.py:cusum_flags) — the
    max(0, s+z) recursion computed via its running-extremum closed
    form (cumsum − running min), exact int64, one key exchange; every
    row's s⁺/s⁻/alarm hash-matched."""
    from pigout_spark.queries.registry import t as _t
    from pigout_spark.streaming.windows import cusum_flags

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("pri"),
        F.col("o_orderdate").alias("od"),
        F.col("o_orderkey").alias("oid"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("vc"),
    )
    out = cusum_flags(
        o, ["pri"], "od", "vc",
        target=15_000_000, k=1_000_000, h=2_000_000_000,
        tiebreak="oid",
    )
    return out.select(
        "pri", F.col("order").alias("od"), "value", "s_hi", "s_lo", "alarm"
    )


# --- r9 addition: autocorrelation screen (r10 rotation queue) ---
@query(
    "x_autocorr",
    sql="""
    WITH g AS (
      SELECT event_type,
             date_trunc('hour', CAST(date_trunc('second', ts)
                                     AS TIMESTAMP)) AS h,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2
    ), l AS (
      SELECT event_type, v,
             lag(v, 1) OVER (PARTITION BY event_type ORDER BY h) AS l1,
             lag(v, 2) OVER (PARTITION BY event_type ORDER BY h) AS l2,
             lag(v, 3) OVER (PARTITION BY event_type ORDER BY h) AS l3
      FROM g
    ), long AS (
      SELECT event_type, 1 AS lag, v, l1 AS vl FROM l WHERE l1 IS NOT NULL
      UNION ALL
      SELECT event_type, 2, v, l2 FROM l WHERE l2 IS NOT NULL
      UNION ALL
      SELECT event_type, 3, v, l3 FROM l WHERE l3 IS NOT NULL
    ), s AS (
      SELECT event_type, CAST(lag AS BIGINT) AS lag,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(CAST(v AS DECIMAL(38,0))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(vl AS DECIMAL(38,0))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(v AS DECIMAL(38,0)) * vl) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(v AS DECIMAL(38,0)) * v) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(vl AS DECIMAL(38,0)) * vl) AS DOUBLE) AS syy
      FROM long GROUP BY 1, 2
    )
    SELECT event_type, lag, n_pairs,
      CASE WHEN (n_pairs * sxx - sx * sx) > 0
                AND (n_pairs * syy - sy * sy) > 0 THEN
        ROUND((n_pairs * sxy - sx * sy)
              / sqrt((n_pairs * sxx - sx * sx)
                     * (n_pairs * syy - sy * sy)), 6) + 0.0
      END AS acf6
    FROM s
    """,
)
def x_autocorr(spark, sf_dir):
    """ACF at lags 1..3 of each event type's hourly spend series
    (streaming/windows.py:autocorr) — hourly grid aggregation gives the
    unique-ts contract, cents integerization gives exact moment sums;
    Pearson-over-lagged-pairs, ROUND-6."""
    from pigout_spark.streaming.windows import autocorr

    e = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    g = (
        e.withColumn(
            "h",
            F.date_trunc(
                "hour",
                F.date_trunc("second", "ts").cast("timestamp_ntz"),
            ),
        )
        .groupBy("event_type", "h")
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("v")
        )
    )
    return autocorr(g, ["event_type"], "h", "v", max_lag=3)


_REPLAY_SEQ = [0]  # memory-sink names must be unique within a session


@query(
    "x_upsert_replay",
    sql="""
    WITH ch AS (
      SELECT user_id % 200 AS k,
             1704067200000000 + event_id * 1000000 AS ts_us,
             CASE WHEN event_type = 'purchase' THEN 'D' ELSE 'U' END
               AS op,
             event_type AS v
      FROM events
      WHERE event_id IS NOT NULL AND user_id IS NOT NULL
        AND event_type IS NOT NULL
    ), w AS (
      SELECT k, ts_us, op, v,
             row_number() OVER (PARTITION BY k ORDER BY ts_us DESC)
               AS rn
      FROM ch
    )
    SELECT k, ts_us, op,
           '{"v":"' || v || '"}' AS payload,
           op <> 'D' AS is_live
    FROM w WHERE rn = 1
    """,
)
def x_upsert_replay(spark, sf_dir):
    """Batch-replay equality for the STREAMING CDC upsert (r9 verdict
    #6, carried from r8): a deterministic two-batch prefix of changes
    (events split by event_id parity, ts made unique per key from
    event_id so no seq is needed) runs through the REAL
    applyInPandasWithState operator (streaming/stateful.py:
    upsert_state_stream) over a file source with maxFilesPerTrigger=1
    — two genuine micro-batches with cross-batch state — and the FINAL
    emission per key must equal the batch compaction
    (pipeline/scd.py:compact_changelog semantics), which IS
    SQL-expressible: the oracle compacts the union directly.
    Max-compaction is arrival-order-insensitive (the operator's
    documented contract), so batch order cannot move the hash."""
    import shutil
    import tempfile

    from pigout_spark.streaming.stateful import (
        await_stream_drain,
        upsert_state_stream,
    )

    ch = (
        t(spark, sf_dir, "events")
        .filter(
            F.col("event_id").isNotNull()
            & F.col("user_id").isNotNull()
            & F.col("event_type").isNotNull()
        )
        .select(
            (F.col("user_id") % 200).alias("k"),
            F.timestamp_seconds(
                F.lit(1704067200) + F.col("event_id")
            ).alias("ts"),
            F.when(F.col("event_type") == "purchase", "D")
            .otherwise("U")
            .alias("op"),
            F.col("event_type").alias("v"),
            (F.col("event_id") % 2).alias("__half"),
        )
    )
    src = tempfile.mkdtemp(prefix="pigout_upsert_replay")
    _REPLAY_SEQ[0] += 1
    sink = f"x_upsert_replay_mem_{_REPLAY_SEQ[0]}"
    try:
        ch.filter(F.col("__half") == 0).drop("__half").coalesce(1).write.mode(
            "overwrite"
        ).parquet(src)
        ch.filter(F.col("__half") == 1).drop("__half").coalesce(1).write.mode(
            "append"
        ).parquet(src)
        stream = (
            spark.readStream.schema("k long, ts timestamp, op string, v string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        out = upsert_state_stream(stream, "k", ["v"])
        q = (
            out.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        # the stateful operator's pending day-idle timeouts keep the
        # query alive past availableNow — drain-and-stop, don't wait
        # for a termination that never comes
        assert await_stream_drain(q), "x_upsert_replay: stream never drained"
    finally:
        shutil.rmtree(src, ignore_errors=True)
    ems = spark.table(sink)
    # final emission per key: ts_us is unique per key by construction,
    # so max_by is deterministic
    return ems.groupBy("k").agg(
        F.max("ts_us").alias("ts_us"),
        F.max_by("op", "ts_us").alias("op"),
        F.max_by("payload", "ts_us").alias("payload"),
        F.max_by("is_live", "ts_us").alias("is_live"),
    )


def _write_ordered_halves(df, order_col="__ord"):
    """Write ``df`` (minus ``order_col``) as TWO parquet files split at
    the midpoint of ``order_col`` — the deterministic two-micro-batch
    replay fixture for the ORDER-SENSITIVE stateful operators.  Unlike
    x_upsert_replay's parity split (legal because max-compaction is
    arrival-order-insensitive), funnel/transition state advances in
    arrival order, so every half-1 row must precede every half-2 row in
    event time: a global threshold on the order column guarantees that
    per key.  The min/max collect is one scalar row (bounded,
    driver-sized — the audited-collect class).  Returns the source dir;
    caller removes it."""
    import tempfile

    lo, hi = df.agg(F.min(order_col), F.max(order_col)).first()
    assert lo is not None, "replay fixture: empty change set"
    mid = (lo + hi) // 2
    src = tempfile.mkdtemp(prefix="pigout_replay")
    half1 = df.filter(F.col(order_col) <= mid).drop(order_col)
    half2 = df.filter(F.col(order_col) > mid).drop(order_col)
    half1.coalesce(1).write.mode("overwrite").parquet(src)
    half2.coalesce(1).write.mode("append").parquet(src)
    return src


@query(
    "x_transitions_replay",
    sql="""
    WITH ch AS (
      SELECT user_id % 500 AS k, event_id AS eid, event_type AS s
      FROM events
      WHERE user_id IS NOT NULL AND event_id IS NOT NULL
        AND event_type IS NOT NULL
    ), w AS (
      SELECT k, s, lag(s) OVER (PARTITION BY k ORDER BY eid) AS prev
      FROM ch
    )
    SELECT k, prev AS from_step, s AS to_step,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM w WHERE prev IS NOT NULL GROUP BY 1, 2, 3
    """,
)
def x_transitions_replay(spark, sf_dir):
    """Batch-replay equality for the STREAMING Markov-transition
    counter (r10 verdict #7): the event log keyed to 500 buckets with
    unique per-key timestamps (ts from event_id, as x_upsert_replay)
    runs through the REAL applyInPandasWithState operator
    (streaming/stateful.py:transitions_stateful) over a file source
    with maxFilesPerTrigger=1 — two genuine micro-batches whose
    (last_ts, last_step) state crosses the batch boundary — and the
    SUMMED partial emissions must equal the batch lag-over-key
    definition, which IS SQL-expressible.  The halves split at the
    event-time midpoint so arrival order equals event order (the
    operator's documented no-backtracking contract)."""
    import shutil

    from pigout_spark.streaming.stateful import (
        await_stream_drain,
        transitions_stateful,
    )

    ch = (
        t(spark, sf_dir, "events")
        .filter(
            F.col("user_id").isNotNull()
            & F.col("event_id").isNotNull()
            & F.col("event_type").isNotNull()
        )
        .select(
            (F.col("user_id") % 500).alias("k"),
            F.timestamp_seconds(F.lit(1704067200) + F.col("event_id")).alias(
                "ts"
            ),
            F.col("event_type").alias("s"),
            F.col("event_id").alias("__ord"),
        )
    )
    src = _write_ordered_halves(ch)
    _REPLAY_SEQ[0] += 1
    sink = f"x_transitions_replay_mem_{_REPLAY_SEQ[0]}"
    try:
        stream = (
            spark.readStream.schema("k long, ts timestamp, s string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        out = transitions_stateful(stream, user_col="k", step_col="s", ts_col="ts")
        q = (
            out.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert await_stream_drain(q), "x_transitions_replay: stream never drained"
    finally:
        shutil.rmtree(src, ignore_errors=True)
    # per-micro-batch PARTIAL counts -> the running transition matrix
    return (
        spark.table(sink)
        .groupBy("k", "from_step", "to_step")
        .agg(F.sum("n").alias("n"))
    )


@query(
    "x_funnel_replay",
    sql="""
    WITH ch AS (
      SELECT user_id % 200 AS k, event_type AS s, MIN(event_id) AS eid
      FROM events
      WHERE user_id IS NOT NULL AND event_id IS NOT NULL
        AND event_type IN ('view', 'click', 'purchase')
      GROUP BY 1, 2
    ), p AS (
      SELECT k,
             MAX(CASE WHEN s = 'view' THEN eid END) AS e1,
             MAX(CASE WHEN s = 'click' THEN eid END) AS e2,
             MAX(CASE WHEN s = 'purchase' THEN eid END) AS e3
      FROM ch GROUP BY k
    )
    SELECT k, 1704067200 + e1 AS s1, 1704067200 + e2 AS s2,
           1704067200 + e3 AS s3
    FROM p
    WHERE e1 IS NOT NULL AND e2 IS NOT NULL AND e3 IS NOT NULL
      AND e1 < e2 AND e2 < e3
    """,
)
def x_funnel_replay(spark, sf_dir):
    """Batch-replay equality for the STREAMING ordered funnel (r10
    verdict #7): the change set is each key's FIRST view/click/purchase
    (≤3 rows per key, so the greedy restart semantics reduce to ONE
    possible chain — emitted iff t_view < t_click < t_purchase, which
    IS SQL-expressible), streamed through the REAL
    applyInPandasWithState operator (streaming/stateful.py:
    funnel_stateful) as two event-time-ordered micro-batches with the
    (stage, timestamps) state crossing the boundary.  Timestamps are
    unique per key by construction (ts from the globally-unique
    event_id), so the strict < comparisons are tie-free."""
    import shutil

    from pigout_spark.streaming.stateful import (
        await_stream_drain,
        funnel_stateful,
    )

    ch = (
        t(spark, sf_dir, "events")
        .filter(
            F.col("user_id").isNotNull()
            & F.col("event_id").isNotNull()
            & F.col("event_type").isin("view", "click", "purchase")
        )
        .groupBy(
            (F.col("user_id") % 200).alias("k"),
            F.col("event_type").alias("s"),
        )
        .agg(F.min("event_id").alias("eid"))
        .select(
            "k",
            F.timestamp_seconds(F.lit(1704067200) + F.col("eid")).alias("ts"),
            "s",
            F.col("eid").alias("__ord"),
        )
    )
    src = _write_ordered_halves(ch)
    _REPLAY_SEQ[0] += 1
    sink = f"x_funnel_replay_mem_{_REPLAY_SEQ[0]}"
    try:
        stream = (
            spark.readStream.schema("k long, ts timestamp, s string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        out = funnel_stateful(
            stream,
            ["view", "click", "purchase"],
            user_col="k",
            step_col="s",
            ts_col="ts",
        )
        q = (
            out.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert await_stream_drain(q), "x_funnel_replay: stream never drained"
    finally:
        shutil.rmtree(src, ignore_errors=True)
    return spark.table(sink).select(
        "k",
        F.unix_timestamp("step_1_ts").alias("s1"),
        F.unix_timestamp("step_2_ts").alias("s2"),
        F.unix_timestamp("step_3_ts").alias("s3"),
    )


@query(
    "x_cusum_replay",
    sql="""
    WITH ch AS (
      SELECT user_id % 200 AS kk, event_id AS ord,
             CAST(round(value * 100) AS BIGINT) AS v
      FROM events
      WHERE user_id IS NOT NULL AND event_id IS NOT NULL
        AND value IS NOT NULL
    ), c AS (
      SELECT kk, ord, v,
        SUM(v - 12000 - 2000) OVER (PARTITION BY kk ORDER BY ord, v
            ROWS UNBOUNDED PRECEDING) AS c_hi,
        SUM(12000 - v - 2000) OVER (PARTITION BY kk ORDER BY ord, v
            ROWS UNBOUNDED PRECEDING) AS c_lo
      FROM ch
    ), s AS (
      SELECT kk, ord, v,
        c_hi - LEAST(CAST(0 AS BIGINT), MIN(c_hi) OVER (PARTITION BY kk
            ORDER BY ord, v ROWS UNBOUNDED PRECEDING)) AS s_hi,
        c_lo - LEAST(CAST(0 AS BIGINT), MIN(c_lo) OVER (PARTITION BY kk
            ORDER BY ord, v ROWS UNBOUNDED PRECEDING)) AS s_lo
      FROM c
    )
    SELECT kk AS k, ord AS "order", v AS value,
           CAST(s_hi AS BIGINT) AS s_hi, CAST(s_lo AS BIGINT) AS s_lo,
           (s_hi > 100000 OR s_lo > 100000) AS alarm
    FROM s
    """,
)
def x_cusum_replay(spark, sf_dir):
    """Batch-replay equality for the STREAMING CUSUM monitor: every
    event's exact int64 (s_hi, s_lo, alarm) from the REAL
    applyInPandasWithState operator (streaming/stateful.py:
    cusum_stateful — two longs of state crossing the micro-batch
    boundary, target 12,000 cents / k 2,000 / h 100,000) over two
    event-id-ordered micro-batches, hash-matched against the batch
    reflection closed form (windows.py:cusum_flags semantics) replayed
    in SQL.  Integer arithmetic end-to-end — bit-identical, no
    rounding discipline needed."""
    import shutil

    from pigout_spark.streaming.stateful import (
        await_stream_drain,
        cusum_stateful,
    )

    ch = (
        t(spark, sf_dir, "events")
        .filter(
            F.col("user_id").isNotNull()
            & F.col("event_id").isNotNull()
            & F.col("value").isNotNull()
        )
        .select(
            (F.col("user_id") % 200).alias("k"),
            F.col("event_id").cast("long").alias("order"),
            F.round(F.col("value") * 100).cast("long").alias("value"),
            F.col("event_id").cast("long").alias("__ord"),
        )
    )
    src = _write_ordered_halves(ch)
    _REPLAY_SEQ[0] += 1
    sink = f"x_cusum_replay_mem_{_REPLAY_SEQ[0]}"
    try:
        stream = (
            spark.readStream.schema("k long, order long, value long")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        out = cusum_stateful(
            stream,
            key_col="k",
            order_col="order",
            value_col="value",
            target=12_000,
            k=2_000,
            h=100_000,
        )
        q = (
            out.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert await_stream_drain(q), "x_cusum_replay: stream never drained"
    finally:
        shutil.rmtree(src, ignore_errors=True)
    return spark.table(sink).select(
        "k", "order", "value", "s_hi", "s_lo", "alarm"
    )
