"""Behavioral-analytics corpus (pipeline/behavioral.py): gap
sessionization, ordered funnels, cohort retention, histograms — the
batch product-analytics family over `events`.

Timestamps truncate to whole seconds in BOTH engines (the streaming_q
convention, FIXTURES.md): second granularity removes the micro/nano
precision mismatch.  Session/funnel assignment is tie-invariant (module
docstring), so no tiebreak column is needed for the hash match.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pigout_spark.pipeline.behavioral import (
    cohort_retention,
    funnel_counts,
    funnel_steps,
    histogram,
    session_stats,
)
from pigout_spark.queries.registry import SQL_DSUM, dsum, query, t


def _events_s(spark, sf_dir):
    return t(spark, sf_dir, "events").withColumn(
        "ts", F.date_trunc("second", "ts").cast("timestamp_ntz")
    )


_FUNNEL_CTE = """
    WITH e AS (
      SELECT user_id, event_type,
             CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts
      FROM events
    ), a AS (
      SELECT user_id, event_type, ts,
             MIN(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id) AS t1
      FROM e
    ), b AS (
      SELECT *, MIN(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
               OVER (PARTITION BY user_id) AS t2
      FROM a
    ), c AS (
      SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
               OVER (PARTITION BY user_id) AS t3
      FROM b
    ), pk AS (
      SELECT user_id,
             CAST(epoch(MIN(t1)) AS BIGINT) AS s1,
             CAST(epoch(MIN(t2)) AS BIGINT) AS s2,
             CAST(epoch(MIN(t3)) AS BIGINT) AS s3,
             CASE WHEN MIN(t3) IS NOT NULL THEN 3
                  WHEN MIN(t2) IS NOT NULL THEN 2
                  WHEN MIN(t1) IS NOT NULL THEN 1 ELSE 0 END AS funnel_stage
      FROM c GROUP BY user_id
    )
"""


@query(
    "x_sessionize",
    f"""
    WITH e AS (
      SELECT user_id, CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts,
             value
      FROM events
    ), flags AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                  THEN 1 ELSE 0 END AS nf
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
      SELECT user_id, ts, value,
             SUM(nf) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sid
      FROM flags
    )
    SELECT user_id, CAST(sid AS BIGINT) AS session_seq,
           CAST(epoch(MIN(ts)) AS BIGINT) AS start_s,
           CAST(epoch(MAX(ts)) AS BIGINT) AS end_s,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {SQL_DSUM("value", "sum_value")}
    FROM s GROUP BY user_id, sid
    """,
)
def x_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-minute gap) rolled up per session:
    the batch twin of stream_session, but with an explicit per-key
    session SEQUENCE (the (key, seq) identity downstream joins need)
    and a value rollup.  One key-partition window pass + one key-
    prefixed aggregation — the oracle replays the identical lag/cumsum
    arithmetic."""
    ev = _events_s(spark, sf_dir)
    out = session_stats(
        ev, gap_seconds=1800, aggs=[dsum("value", "sum_value")]
    )
    return out.select(
        "user_id",
        "session_seq",
        F.unix_timestamp("session_start").alias("start_s"),
        F.unix_timestamp("session_end").alias("end_s"),
        "n_events",
        "sum_value",
    )


@query(
    "x_funnel",
    _FUNNEL_CTE + "SELECT user_id, s1, s2, s3, funnel_stage FROM pk",
)
def x_funnel(spark, sf_dir):
    """Ordered funnel view→click→purchase: per-user earliest STRICTLY
    ORDERED completion times and the furthest stage reached.  The
    chained conditional window-mins share one key partitioning (single
    exchange, plan-asserted in test_plans.py)."""
    ev = _events_s(spark, sf_dir)
    out = funnel_steps(ev, ["view", "click", "purchase"])
    return out.select(
        "user_id",
        F.unix_timestamp("step_1_ts").alias("s1"),
        F.unix_timestamp("step_2_ts").alias("s2"),
        F.unix_timestamp("step_3_ts").alias("s3"),
        "funnel_stage",
    )


@query(
    "x_funnel_counts",
    _FUNNEL_CTE
    + """
    , steps AS (SELECT unnest(range(1, 4)) AS step)
    SELECT CAST(s.step AS INT) AS step, CAST(COUNT(*) AS BIGINT) AS n_keys
    FROM steps s JOIN pk ON pk.funnel_stage >= s.step
    GROUP BY s.step
    """,
)
def x_funnel_counts(spark, sf_dir):
    """The k-row funnel summary (keys reaching each step) — computed
    from the key-sized funnel_steps output, not the event log."""
    ev = _events_s(spark, sf_dir)
    return funnel_counts(ev, ["view", "click", "purchase"])


@query(
    "x_cohort_retention",
    """
    WITH e AS (
      SELECT user_id,
             CAST(floor(epoch(CAST(date_trunc('second', ts) AS TIMESTAMP))
                        / 86400) AS BIGINT) AS p
      FROM events
    ), m AS (
      SELECT user_id, p, MIN(p) OVER (PARTITION BY user_id) AS cohort
      FROM e
    ), d AS (
      SELECT DISTINCT user_id, cohort, p - cohort AS period_offset FROM m
    )
    SELECT cohort, period_offset, CAST(COUNT(*) AS BIGINT) AS n_keys
    FROM d GROUP BY cohort, period_offset
    """,
)
def x_cohort_retention(spark, sf_dir):
    """Daily cohort retention triangle: cohort = day of a user's first
    event; a user counts at offset d if active on cohort+d.  Window-min
    + key-prefixed distinct — no event-log self-join."""
    ev = _events_s(spark, sf_dir)
    return cohort_retention(ev, period_seconds=86400)


@query(
    "x_histogram",
    """
    WITH v AS (
      SELECT LEAST(19, GREATEST(0,
               CAST(floor((value - 0.0) / 5.0) AS BIGINT))) AS bin
      FROM events WHERE value IS NOT NULL
    )
    SELECT bin, CAST(COUNT(*) AS BIGINT) AS cnt, 0.0 + bin * 5.0 AS bin_lo
    FROM v GROUP BY bin
    """,
)
def x_histogram(spark, sf_dir):
    """Equi-width 20-bin histogram of event values over [0, 100) with
    edge-bin clamping: counts always sum to the non-null row count.
    Bin arithmetic is floor of one IEEE division by a shared literal —
    bit-identical across engines."""
    return histogram(t(spark, sf_dir, "events"), "value", 20, 0.0, 100.0)


@query(
    "x_pivot",
    f"""
    SELECT user_id,
           CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT)
             AS view_n,
           {SQL_DSUM("CASE WHEN event_type = 'view' THEN value END", "view_s")},
           CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT)
             AS click_n,
           {SQL_DSUM("CASE WHEN event_type = 'click' THEN value END", "click_s")},
           CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT)
             AS purchase_n,
           {SQL_DSUM("CASE WHEN event_type = 'purchase' THEN value END", "purchase_s")}
    FROM events GROUP BY user_id
    """,
)
def x_pivot(spark, sf_dir):
    """PIVOT on event_type (explicit value list — no discovery pass):
    per-user wide table of count + exact-decimal sum per type; the
    oracle is the equivalent conditional aggregation
    (operators/grouping.py:pivot_table)."""
    from pigout_spark.operators.grouping import pivot_table

    ev = t(spark, sf_dir, "events")
    out = pivot_table(
        ev,
        keys=["user_id"],
        pivot_col="event_type",
        values=["view", "click", "purchase"],
        aggs=[
            F.count("event_type").alias("n"),
            dsum("value", "s"),
        ],
    )
    return out


@query(
    "x_session_paths",
    """
    WITH e AS (
      SELECT user_id, event_id, event_type,
             CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts
      FROM events
    ), flags AS (
      SELECT user_id, event_id, event_type, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                  THEN 1 ELSE 0 END AS nf
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
      SELECT user_id, event_id, event_type, ts,
             SUM(nf) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sid
      FROM flags
    ), paths AS (
      SELECT user_id, sid,
             array_to_string(
               list_slice(list(event_type ORDER BY ts, event_id), 1, 20),
               '>') AS path
      FROM s GROUP BY user_id, sid
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
    FROM paths GROUP BY path
    """,
)
def x_session_paths(spark, sf_dir):
    """Top navigation paths per 30-min session (event_id tiebreak for
    a total order — the sessionize cumsum itself is tie-invariant, but
    a path STRING needs every position pinned).  max_len=20 bounds
    per-session state."""
    from pigout_spark.pipeline.behavioral import session_paths

    ev = _events_s(spark, sf_dir)
    return session_paths(
        ev, tiebreak="event_id", gap_seconds=1800, max_len=20
    )


@query(
    "x_gaps",
    """
    WITH e AS (
      SELECT user_id, CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts
      FROM events
    ), g AS (
      SELECT user_id,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS gap_start,
             ts AS gap_end
      FROM e
    )
    SELECT user_id, CAST(epoch(gap_start) AS BIGINT) AS start_s,
           CAST(epoch(gap_end) AS BIGINT) AS end_s,
           CAST(epoch(gap_end) - epoch(gap_start) AS BIGINT) AS gap_seconds
    FROM g
    WHERE gap_start IS NOT NULL
      AND epoch(gap_end) - epoch(gap_start) > 21600
    """,
)
def x_gaps(spark, sf_dir):
    """Silence detection: per-user inter-event gaps > 6 h — one lag
    pass + filter (pipeline/behavioral.py:detect_gaps)."""
    from pigout_spark.pipeline.behavioral import detect_gaps

    ev = _events_s(spark, sf_dir)
    out = detect_gaps(ev, min_gap_seconds=21600)
    return out.select(
        "user_id",
        F.unix_timestamp("gap_start").alias("start_s"),
        F.unix_timestamp("gap_end").alias("end_s"),
        "gap_seconds",
    )


_ATTR_E = """
      SELECT user_id, event_id, event_type,
             CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts
      FROM events
"""
_ATTR_J = """
    c AS (
      SELECT user_id, event_id AS conv_id, ts AS cts FROM e
      WHERE event_type = 'purchase'
    ), t0 AS (
      SELECT user_id, event_id AS touch_id, event_type AS touch_type,
             ts AS tts
      FROM e WHERE event_type IN ('view', 'click')
    ), j AS (
      SELECT c.user_id, conv_id, touch_id, touch_type, tts
      FROM c JOIN t0 USING (user_id)
      WHERE (tts < cts OR (tts = cts AND touch_id < conv_id))
        AND epoch(cts) - epoch(tts) <= 86400
    )
"""


@query(
    "x_attribution_last",
    f"""
    WITH e AS ({_ATTR_E}), {_ATTR_J}
    SELECT user_id, conv_id, touch_id, touch_type, 1.0 AS credit
    FROM j
    QUALIFY row_number() OVER (
      PARTITION BY conv_id ORDER BY tts DESC, touch_id DESC
    ) = 1
    """,
)
def x_attribution_last(spark, sf_dir):
    """Last-touch attribution with a 24h lookback: each purchase
    credited to the latest preceding view/click — deterministic
    (ts, event_id) tie order, hash-exact vs the oracle's QUALIFY
    formulation (pipeline/behavioral.py:attribution)."""
    from pigout_spark.pipeline.behavioral import attribution

    return attribution(
        _events_s(spark, sf_dir), model="last", lookback_seconds=86400
    )


@query(
    "x_attribution_linear",
    f"""
    WITH e AS ({_ATTR_E}), {_ATTR_J}
    SELECT user_id, conv_id, touch_id, touch_type,
           1.0 / (COUNT(*) OVER (PARTITION BY conv_id)) AS credit
    FROM j
    """,
)
def x_attribution_linear(spark, sf_dir):
    """Linear (equal-split) attribution with a 24h lookback: per-
    conversion credits sum to 1; the 1/count division is the same IEEE
    op in both engines, so the credit column hash-matches exactly."""
    from pigout_spark.pipeline.behavioral import attribution

    return attribution(
        _events_s(spark, sf_dir), model="linear", lookback_seconds=86400
    )


def _rfm_score_sql(col: str, bounds: list[float], reverse: bool = False) -> str:
    terms = " + ".join(
        f"(CASE WHEN {col} > {b} THEN 1 ELSE 0 END)" for b in bounds
    )
    s = f"(1 + {terms})"
    return f"({len(bounds) + 2} - {s})" if reverse else s


_RFM_R, _RFM_F, _RFM_M = [43200.0, 259200.0], [8.0, 20.0], [500.0, 2000.0]


@query(
    "x_rfm",
    f"""
    WITH e AS ({_ATTR_E}), a AS (
      SELECT user_id,
             MAX(epoch(ts)) AS last_s,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             {SQL_DSUM("value", "monetary")}
      FROM (SELECT user_id, CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts,
                   value FROM events) ev
      GROUP BY user_id
    ), nw AS (
      SELECT MAX(last_s) AS now_s FROM a
    ), rec AS (
      SELECT user_id, CAST(now_s - last_s AS BIGINT) AS recency_s,
             frequency, monetary
      FROM a, nw
    )
    SELECT user_id, recency_s, frequency, monetary,
           CAST({_rfm_score_sql("recency_s", _RFM_R, reverse=True)} AS INTEGER) AS r,
           CAST({_rfm_score_sql("frequency", _RFM_F)} AS INTEGER) AS f,
           CAST({_rfm_score_sql("monetary", _RFM_M)} AS INTEGER) AS m,
           CAST({_rfm_score_sql("recency_s", _RFM_R, reverse=True)} * 100
                + {_rfm_score_sql("frequency", _RFM_F)} * 10
                + {_rfm_score_sql("monetary", _RFM_M)} AS INTEGER) AS segment
    FROM rec
    """,
)
def x_rfm(spark, sf_dir):
    """RFM segmentation with explicit cut points (12h/3d recency,
    8/20 frequency, 500/2000 monetary): per-user aggregate + narrow
    scoring map — deliberately NOT ntile (rank splits need the
    keyless-window scale killer; data-driven cuts come from q-digests
    at sketch cost).  Hash-exact including the decimal-summed monetary
    column (pipeline/behavioral.py:rfm)."""
    from pigout_spark.pipeline.behavioral import rfm

    return rfm(
        _events_s(spark, sf_dir),
        r_bounds=_RFM_R,
        f_bounds=_RFM_F,
        m_bounds=_RFM_M,
    )


_FL_K, _FL_LEVELS = 64, 22  # funnel latencies ≤ ~2.0M s at sf0.1 < 2^22
_FL_QS = [0.5, 0.9, 0.99]


def _funnel_latency_sql() -> str:
    from pigout_spark.queries.pipeline_q import qdigest_quantiles_sql

    inner = qdigest_quantiles_sql(
        _FL_K,
        _FL_LEVELS,
        _FL_QS,
        "SELECT s3 - s1 AS v FROM pk WHERE funnel_stage = 3",
    )
    # splice the funnel CTEs in front of the digest chain's WITH list
    assert inner.strip().startswith("WITH vals")
    return _FUNNEL_CTE + ", " + inner.strip()[len("WITH "):]


@query(
    "x_funnel_latency",
    _funnel_latency_sql(),
)
def x_funnel_latency(spark, sf_dir):
    """Conversion-latency percentiles for completed view→click→purchase
    funnels — funnel_steps composed with the q-digest (22 levels covers
    ~48-day latencies at 1 s resolution): p50/p90/p99 time-to-convert
    with NO global sort anywhere, the digest's bounded batch replacing
    the percentile_approx/ntile path.  Oracle = funnel CTE spliced into
    the regenerated digest chain — the whole composition hash-exact."""
    from pigout_spark.pipeline.behavioral import funnel_steps
    from pigout_spark.pipeline.sketches import qdigest_build, qdigest_quantiles

    out = funnel_steps(_events_s(spark, sf_dir), ["view", "click", "purchase"])
    lat = out.filter(F.col("funnel_stage") == 3).select(
        (
            F.unix_timestamp("step_3_ts") - F.unix_timestamp("step_1_ts")
        ).alias("v")
    )
    d = qdigest_build(lat, "v", k=_FL_K, levels=_FL_LEVELS)
    return qdigest_quantiles(d, _FL_QS, k=_FL_K, levels=_FL_LEVELS)


@query(
    "x_transitions",
    """
    WITH e AS (
      SELECT user_id, event_type,
             CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts
      FROM events
    ), g AS (
      SELECT user_id, event_type, ts,
             lag(ts) OVER w AS pts,
             lag(event_type) OVER w AS pstep
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_type)
    )
    SELECT pstep AS from_step, event_type AS to_step,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM g
    WHERE pstep IS NOT NULL AND epoch(ts) - epoch(pts) <= 1800
    GROUP BY pstep, event_type
    """,
)
def x_transitions(spark, sf_dir):
    """Markov transition matrix of the event stream, session-scoped at
    a 30-min gap: adjacent (from → to) event-type counts per user
    stream, no transition across a session boundary
    (pipeline/behavioral.py:event_transitions).  The oracle reproduces
    the session reset with a lag-gap filter — identical semantics
    because a session boundary IS a >gap lag."""
    from pigout_spark.pipeline.behavioral import event_transitions

    return event_transitions(_events_s(spark, sf_dir), gap_seconds=1800)


@query(
    "x_mad_outliers",
    """
    WITH e AS (
      SELECT user_id, event_id, value FROM events WHERE value IS NOT NULL
    ), r1 AS (
      SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM e
    ), med AS (
      SELECT user_id, MIN(value) AS median
      FROM r1 WHERE rn = (n + 1) // 2 GROUP BY user_id
    ), dev AS (
      SELECT e.user_id, e.event_id, e.value, med.median,
             abs(e.value - med.median) AS deviation
      FROM e JOIN med USING (user_id)
    ), r2 AS (
      SELECT user_id, deviation,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY deviation, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM dev
    ), mad AS (
      SELECT user_id, MIN(deviation) AS mad
      FROM r2 WHERE rn = (n + 1) // 2 GROUP BY user_id
    )
    SELECT dev.user_id, dev.event_id, dev.value, dev.median, mad.mad,
           dev.deviation
    FROM dev JOIN mad USING (user_id)
    WHERE dev.deviation > 3.0 * mad.mad
    """,
)
def x_mad_outliers(spark, sf_dir):
    """Per-user MAD outliers over event values (|v − median| > 3·MAD),
    lower-median order statistics so both engines pick bit-identical
    medians (pipeline/behavioral.py:mad_outliers)."""
    from pigout_spark.pipeline.behavioral import mad_outliers

    ev = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return mad_outliers(ev, threshold=3.0)


@query(
    "x_scd2",
    """
    WITH e AS (
      SELECT user_id, event_id, event_type,
             CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts
      FROM events
    ), g AS (
      SELECT user_id, event_id, event_type, ts,
             lag(event_type) OVER w AS ptype,
             lag(event_id) OVER w IS NULL AS first
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), st AS (
      -- first-row detection via the id lag, NOT ptype IS NULL: a
      -- NULL attribute after a NULL attribute is no change
      SELECT user_id, event_id, event_type, ts
      FROM g WHERE first OR event_type IS DISTINCT FROM ptype
    )
    SELECT user_id, event_type,
           CAST(epoch(ts) AS BIGINT) AS from_s,
           CAST(epoch(lead(ts) OVER w2) AS BIGINT) AS to_s,
           lead(ts) OVER w2 IS NULL AS is_current
    FROM st WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def x_scd2(spark, sf_dir):
    """SCD2 history of each user's event-type state: consecutive
    identical types collapse into [from, to) validity intervals, open
    current row flagged (pipeline/scd.py:scd2_build).  One key
    exchange for both window passes."""
    from pigout_spark.pipeline.scd import scd2_build

    ev = _events_s(spark, sf_dir).select(
        "user_id", "event_id", "event_type", "ts"
    )
    out = scd2_build(
        ev, key="user_id", ts_col="ts", attrs=["event_type"],
        tiebreak="event_id",
    )
    return out.select(
        "user_id", "event_type",
        F.unix_timestamp("valid_from").alias("from_s"),
        F.unix_timestamp("valid_to").alias("to_s"),
        "is_current",
    )


@query(
    "x_session_ngrams",
    """
    WITH e AS (
      SELECT user_id, event_type,
             CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts
      FROM events
    ), flags AS (
      SELECT user_id, event_type, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                  THEN 1 ELSE 0 END AS nf
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_type)
    ), s AS (
      SELECT user_id, event_type, ts,
             SUM(nf) OVER (PARTITION BY user_id ORDER BY ts, event_type
                           ROWS UNBOUNDED PRECEDING) AS seq
      FROM flags
    ), g AS (
      SELECT lag(event_type, 2) OVER w2 AS s1,
             lag(event_type, 1) OVER w2 AS s2,
             event_type AS s3
      FROM s WINDOW w2 AS (PARTITION BY user_id, seq
                           ORDER BY ts, event_type)
    )
    SELECT s1 || '>' || s2 || '>' || s3 AS gram,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM g WHERE s1 || '>' || s2 || '>' || s3 IS NOT NULL
    GROUP BY 1
    """,
)
def x_session_ngrams(spark, sf_dir):
    """Frequent 3-step flows inside 30-min sessions: contiguous
    event-type trigram counts corpus-wide — the sessionize lag-chain
    replayed with DuckDB's window SQL
    (pipeline/behavioral.py:session_ngrams)."""
    from pigout_spark.pipeline.behavioral import session_ngrams

    return session_ngrams(_events_s(spark, sf_dir), n=3)


@query(
    "x_basket_rules",
    """
    WITH b AS (
      SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem
    ), nb AS (
      SELECT CAST(COUNT(DISTINCT bk) AS DOUBLE) AS n FROM b
    ), cnt AS (
      SELECT it, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY it
    ), pairs AS (
      SELECT x.it AS item_a, y.it AS item_b,
             CAST(COUNT(*) AS BIGINT) AS support
      FROM b x JOIN b y ON x.bk = y.bk AND x.it < y.it
      GROUP BY x.it, y.it
      HAVING COUNT(*) >= 2
    )
    SELECT item_a, item_b, support,
           ca.c AS n_a, cb.c AS n_b,
           CAST(support AS DOUBLE) / CAST(ca.c AS DOUBLE) AS conf_a_b,
           CAST(support AS DOUBLE) / CAST(cb.c AS DOUBLE) AS conf_b_a,
           CAST(support AS DOUBLE) * nb.n
             / (CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)) AS lift
    FROM pairs
    JOIN cnt ca ON ca.it = pairs.item_a
    JOIN cnt cb ON cb.it = pairs.item_b, nb
    """,
)
def x_basket_rules(spark, sf_dir):
    """Market-basket association rules over order baskets: item pairs
    co-purchased in ≥ 2 orders with support / confidence both ways /
    lift — exact-integer-count ratios, hash-identical
    (pipeline/behavioral.py:basket_rules)."""
    from pigout_spark.pipeline.behavioral import basket_rules

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return basket_rules(li, basket_col="l_orderkey", item_col="l_partkey")


@query(
    "x_cuped_lift",
    """
    WITH e AS (
      SELECT user_id, value AS y,
             0.5 * value + CAST(event_id % 7 AS DOUBLE) AS x
      FROM events WHERE value IS NOT NULL
    ), a AS (
      SELECT y, x,
             ('0x' || substring(md5('7' || '|' ||
                coalesce(user_id::VARCHAR, chr(0))), 1, 8))::BIGINT
             / 4294967296.0 < 0.5 AS is_t
      FROM e
    ), s AS (
      SELECT
        CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
        CAST(SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS BIGINT) AS n_c,
        CAST(SUM(CAST(CASE WHEN is_t THEN y ELSE 0.0 END AS DECIMAL(24,8))) AS DOUBLE) AS sy_t,
        CAST(SUM(CAST(CASE WHEN is_t THEN 0.0 ELSE y END AS DECIMAL(24,8))) AS DOUBLE) AS sy_c,
        CAST(SUM(CAST(CASE WHEN is_t THEN x ELSE 0.0 END AS DECIMAL(24,8))) AS DOUBLE) AS sx_t,
        CAST(SUM(CAST(CASE WHEN is_t THEN 0.0 ELSE x END AS DECIMAL(24,8))) AS DOUBLE) AS sx_c,
        CAST(SUM(CAST(CASE WHEN is_t THEN y * y ELSE 0.0 END AS DECIMAL(30,8))) AS DOUBLE) AS syy_t,
        CAST(SUM(CAST(CASE WHEN is_t THEN 0.0 ELSE y * y END AS DECIMAL(30,8))) AS DOUBLE) AS syy_c,
        CAST(SUM(CAST(CASE WHEN is_t THEN x * x ELSE 0.0 END AS DECIMAL(30,8))) AS DOUBLE) AS sxx_t,
        CAST(SUM(CAST(CASE WHEN is_t THEN 0.0 ELSE x * x END AS DECIMAL(30,8))) AS DOUBLE) AS sxx_c,
        CAST(SUM(CAST(CASE WHEN is_t THEN x * y ELSE 0.0 END AS DECIMAL(30,8))) AS DOUBLE) AS sxy_t,
        CAST(SUM(CAST(CASE WHEN is_t THEN 0.0 ELSE x * y END AS DECIMAL(30,8))) AS DOUBLE) AS sxy_c
      FROM a
    ), f AS (
      SELECT *,
             n_t + n_c AS n,
             sy_t + sy_c AS sy, sx_t + sx_c AS sx,
             sxx_t + sxx_c AS sxx, sxy_t + sxy_c AS sxy
      FROM s
    ), g AS (
      SELECT *,
             (n * sxy - sx * sy) / (n * sxx - sx * sx) AS theta,
             sx / n AS xbar
      FROM f
    ), h AS (
      SELECT *,
             sy_t / n_t AS my_t, sy_c / n_c AS my_c,
             sx_t / n_t AS mx_t, sx_c / n_c AS mx_c,
             (n_t * syy_t - sy_t * sy_t) / (n_t * (n_t - 1)) AS vy_t,
             (n_c * syy_c - sy_c * sy_c) / (n_c * (n_c - 1)) AS vy_c,
             (n_t * sxx_t - sx_t * sx_t) / (n_t * (n_t - 1)) AS vx_t,
             (n_c * sxx_c - sx_c * sx_c) / (n_c * (n_c - 1)) AS vx_c,
             (n_t * sxy_t - sx_t * sy_t) / (n_t * (n_t - 1)) AS cxy_t,
             (n_c * sxy_c - sx_c * sy_c) / (n_c * (n_c - 1)) AS cxy_c
      FROM g
    ), i AS (
      SELECT *,
             my_t - theta * (mx_t - xbar) AS ma_t,
             my_c - theta * (mx_c - xbar) AS ma_c,
             vy_t - 2 * theta * cxy_t + theta * theta * vx_t AS va_t,
             vy_c - 2 * theta * cxy_c + theta * theta * vx_c AS va_c
      FROM h
    )
    SELECT n_c, n_t,
           ROUND(theta, 6) AS theta6,
           ROUND(my_t - my_c, 6) AS lift_raw6,
           ROUND((my_t - my_c) / sqrt(vy_t / n_t + vy_c / n_c), 6) AS z_raw6,
           ROUND(ma_t - ma_c, 6) AS lift_cuped6,
           ROUND((ma_t - ma_c) / sqrt(va_t / n_t + va_c / n_c), 6) AS z_cuped6
    FROM i
    """,
)
def x_cuped_lift(spark, sf_dir):
    """CUPED variance-reduced A/B readout over event values with a
    constructed correlated covariate (0.5·value + event_id mod 7) —
    theta, raw and adjusted lift/z, all from decimal-exact component
    sums and one scalar IEEE chain
    (pipeline/behavioral.py:cuped_lift)."""
    from pigout_spark.pipeline.behavioral import cuped_lift

    ev = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    ev = ev.withColumn(
        "x",
        F.lit(0.5) * F.col("value")
        + (F.col("event_id") % 7).cast("double"),
    )
    out = cuped_lift(ev, "value", "x", ["user_id"], seed="7")
    return out.select(
        "n_c", "n_t",
        F.round("theta", 6).alias("theta6"),
        F.round("lift_raw", 6).alias("lift_raw6"),
        F.round("z_raw", 6).alias("z_raw6"),
        F.round("lift_cuped", 6).alias("lift_cuped6"),
        F.round("z_cuped", 6).alias("z_cuped6"),
    )


@query(
    "x_srm_check",
    """
    WITH e AS (
      SELECT DISTINCT user_id FROM events
    ), a AS (
      SELECT ('0x' || substring(md5('7' || '|' ||
                coalesce(user_id::VARCHAR, chr(0))), 1, 8))::BIGINT
             / 4294967296.0 < 0.5 AS is_t
      FROM e
    ), s AS (
      SELECT CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
             CAST(SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS BIGINT) AS n_c
      FROM a
    )
    SELECT n_c, n_t,
           CAST(n_t + n_c AS DOUBLE) * 0.5 AS expected_t,
           (CAST(n_t AS DOUBLE) - CAST(n_t + n_c AS DOUBLE) * 0.5)
             * (CAST(n_t AS DOUBLE) - CAST(n_t + n_c AS DOUBLE) * 0.5)
             / (CAST(n_t + n_c AS DOUBLE) * 0.5)
           + (CAST(n_c AS DOUBLE) - CAST(n_t + n_c AS DOUBLE) * 0.5)
             * (CAST(n_c AS DOUBLE) - CAST(n_t + n_c AS DOUBLE) * 0.5)
             / (CAST(n_t + n_c AS DOUBLE) * 0.5) AS chi2,
           ((CAST(n_t AS DOUBLE) - CAST(n_t + n_c AS DOUBLE) * 0.5)
             * (CAST(n_t AS DOUBLE) - CAST(n_t + n_c AS DOUBLE) * 0.5)
             / (CAST(n_t + n_c AS DOUBLE) * 0.5)
           + (CAST(n_c AS DOUBLE) - CAST(n_t + n_c AS DOUBLE) * 0.5)
             * (CAST(n_c AS DOUBLE) - CAST(n_t + n_c AS DOUBLE) * 0.5)
             / (CAST(n_t + n_c AS DOUBLE) * 0.5)) > 3.841 AS srm_suspected
    FROM s
    """,
)
def x_srm_check(spark, sf_dir):
    """Sample-ratio-mismatch gate on the user-level assignment (seed 7,
    50/50): observed-vs-expected chi-square and the p<0.05 flag — the
    first sanity check of any experiment
    (pipeline/behavioral.py:srm_check)."""
    from pigout_spark.pipeline.behavioral import srm_check

    users = t(spark, sf_dir, "events").select("user_id").distinct()
    return srm_check(users, ["user_id"], treat_frac=0.5, seed="7")


@query(
    "x_apply_cdc",
    """
    WITH base AS (
      SELECT o_orderkey AS k, o_custkey AS c, o_totalprice AS p FROM orders
    ), ch AS (
      SELECT k, c, p + 1000 AS p, 'U' AS op, CAST(1 AS BIGINT) AS ts
      FROM base WHERE k % 7 = 0
      UNION ALL
      SELECT k, c, p, 'D', CAST(2 AS BIGINT) FROM base WHERE k % 11 = 0
      UNION ALL
      SELECT k + 1000000000, c, p, 'I', CAST(1 AS BIGINT)
      FROM base WHERE k % 13 = 0
    ), latest AS (
      SELECT * FROM ch
      QUALIFY row_number() OVER (PARTITION BY k ORDER BY ts DESC) = 1
    )
    SELECT k AS o_orderkey, c AS o_custkey, p AS o_totalprice
    FROM base WHERE k NOT IN (SELECT k FROM latest)
    UNION ALL
    SELECT k, c, p FROM latest WHERE op <> 'D'
    """,
)
def x_apply_cdc(spark, sf_dir):
    """Batch CDC MERGE over the orders snapshot: a derived change log
    (every 7th key updated at ts 1, every 11th deleted at ts 2, every
    13th re-inserted under an offset key) compacted to its latest
    entry per key and applied — upserts replace, deletes vanish,
    untouched rows pass through (pipeline/scd.py:apply_cdc /
    compact_changelog).  Keys divisible by both 7 and 11 exercise the
    compaction: the ts-2 delete must beat the ts-1 update."""
    from pigout_spark.pipeline.scd import apply_cdc

    base = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey"), F.col("o_custkey"), F.col("o_totalprice")
    )
    k = F.col("o_orderkey")
    u = (
        base.filter(k % 7 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1000)
        .withColumn("op", F.lit("U"))
        .withColumn("ts", F.lit(1).cast("bigint"))
    )
    d = base.filter(k % 11 == 0).withColumn("op", F.lit("D")).withColumn(
        "ts", F.lit(2).cast("bigint")
    )
    ins = (
        base.filter(k % 13 == 0)
        .withColumn("o_orderkey", k + 1_000_000_000)
        .withColumn("op", F.lit("I"))
        .withColumn("ts", F.lit(1).cast("bigint"))
    )
    changes = u.unionByName(d).unionByName(ins)
    return apply_cdc(base, changes, ["o_orderkey"], ts_col="ts", op_col="op")


@query(
    "x_trend_fit",
    """
    WITH o AS (
      SELECT o_custkey,
             CAST(date_diff('day', TIMESTAMP '1992-01-01 00:00:00',
                            o_orderdate) AS DOUBLE) AS x,
             CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS DOUBLE) AS y
      FROM orders
      WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
    ), s AS (
      SELECT o_custkey,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(x AS BIGINT)) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS BIGINT)) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x * x AS BIGINT)) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(x * y AS BIGINT)) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(y * y AS BIGINT)) AS DOUBLE) AS syy
      FROM o GROUP BY o_custkey
    )
    SELECT o_custkey, n,
           CASE WHEN n * sxx - sx * sx <> 0
                THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS slope,
           (sy - (CASE WHEN n * sxx - sx * sx <> 0
                       THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END)
                 * sx) / n AS intercept,
           CASE WHEN n * sxx - sx * sx <> 0 AND n * syy - sy * sy <> 0
                THEN ((n * sxy - sx * sy) * (n * sxy - sx * sy))
                     / ((n * sxx - sx * sx) * (n * syy - sy * sy)) END AS r2
    FROM s
    """,
)
def x_trend_fit(spark, sf_dir):
    """Per-customer OLS spend trend: slope/intercept/r² of order total
    (in CENTS — integerized, term_scale=0: every moment term is an
    exact integer double and scale-0 sums make the decimal→double
    cast a single rounding in both engines; see trend_fit's trap
    notes) over
    order day (pipeline/behavioral.py:trend_fit) — raw doubles
    hash-matched because both engines run the identical closed-form
    IEEE chain over decimal-exact moment sums (the cuped_lift
    discipline).  Single-order customers exercise the
    zero-variance NULL guards."""
    from pigout_spark.pipeline.behavioral import trend_fit

    o = t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.datediff(
            "o_orderdate", F.lit("1992-01-01 00:00:00").cast("timestamp_ntz")
        )
        .cast("double")
        .alias("x"),
        F.round(F.col("o_totalprice") * 100)
        .cast("bigint")
        .cast("double")
        .alias("y"),
    )
    return trend_fit(o, ["o_custkey"], "x", "y", term_scale=0)


_DRIFT_BINS = """
    r AS (
      SELECT LEAST(19, GREATEST(0, CAST(floor((value - 0.0) / 5.0) AS BIGINT)))
             AS bin
      FROM events WHERE value IS NOT NULL AND event_type = 'view'
    ), c AS (
      SELECT LEAST(19, GREATEST(0, CAST(floor((value - 0.0) / 5.0) AS BIGINT)))
             AS bin
      FROM events WHERE value IS NOT NULL AND event_type = 'purchase'
    ), rb AS (
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_ref FROM r GROUP BY bin
    ), cb AS (
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_cur FROM c GROUP BY bin
    ), j AS (
      SELECT coalesce(rb.bin, cb.bin) AS bin,
             coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
      FROM rb FULL OUTER JOIN cb ON rb.bin = cb.bin
    ), t AS (
      SELECT CAST(SUM(n_ref) AS BIGINT) AS tr,
             CAST(SUM(n_cur) AS BIGINT) AS tc FROM j
    )
"""


@query(
    "x_psi_drift",
    "WITH "
    + _DRIFT_BINS
    + """
    SELECT bin, n_ref, n_cur,
           ROUND((GREATEST(n_cur / tc, 1e-4) - GREATEST(n_ref / tr, 1e-4))
                 * ln(GREATEST(n_cur / tc, 1e-4)
                      / GREATEST(n_ref / tr, 1e-4)), 6) + 0.0 AS psi6
    FROM j, t
    """,
)
def x_psi_drift(spark, sf_dir):
    """Population Stability Index, view-values vs purchase-values over
    the x_histogram binning (pipeline/drift.py:psi_drift) — per-bin
    contributions ROUND-6 + signed-zero normalized (the vocab_kl ln
    discipline), counts exact integers, proportions single IEEE
    divisions."""
    from pigout_spark.pipeline.drift import psi_drift

    ev = t(spark, sf_dir, "events")
    return psi_drift(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "purchase"),
        "value",
        bins=20,
        lo=0.0,
        hi=100.0,
        min_prop=1e-4,
    )


@query(
    "x_ks_drift",
    "WITH "
    + _DRIFT_BINS
    + """
    , e AS (
      SELECT bin,
             abs(SUM(n_ref) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) / tr
               - SUM(n_cur) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) / tc)
             AS d
      FROM j, t
    )
    SELECT d AS d_stat, bin AS at_bin FROM e ORDER BY d DESC, bin LIMIT 1
    """,
)
def x_ks_drift(spark, sf_dir):
    """Two-sample KS statistic over the binned ECDFs of view vs
    purchase event values (pipeline/drift.py:ks_drift) — ln-free, so
    the raw double D hash-matches; at_bin pins the deterministic
    smallest-bin argmax."""
    from pigout_spark.pipeline.drift import ks_drift

    ev = t(spark, sf_dir, "events")
    return ks_drift(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "purchase"),
        "value",
        bins=20,
        lo=0.0,
        hi=100.0,
    )


@query(
    "x_winsorize",
    """
    WITH o AS (
      SELECT o_orderkey, o_orderpriority AS pri, o_totalprice AS v
      FROM orders
    ), r AS (
      SELECT pri, v,
             row_number() OVER (PARTITION BY pri ORDER BY v) AS rn,
             COUNT(*) OVER (PARTITION BY pri) AS n
      FROM o WHERE v IS NOT NULL
    ), b AS (
      SELECT pri,
             MIN(CASE WHEN rn = GREATEST(1, ceil(0.05 * n)) THEN v END) AS lo,
             MIN(CASE WHEN rn = GREATEST(1, ceil(0.95 * n)) THEN v END) AS hi
      FROM r GROUP BY pri
    )
    SELECT o_orderkey, pri, v AS value,
           CASE WHEN v IS NOT NULL
                THEN LEAST(GREATEST(v, lo), hi) END AS value_w
    FROM o LEFT JOIN b USING (pri)
    """,
)
def x_winsorize(spark, sf_dir):
    """Winsorize order totals to the exact per-priority [5%, 95%]
    order statistics (operators/sorting.py:winsorize) — k =
    max(1, ceil(p·n)) positions of the sorted multiset, tie-invariant,
    one key exchange; every row's clamped value hash-matched."""
    from pigout_spark.operators.sorting import winsorize

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("pri"),
        F.col("o_totalprice").alias("value"),
    )
    out = winsorize(o, "value", ["pri"], p_lo=0.05, p_hi=0.95)
    return out.select("o_orderkey", "pri", "value", "value_w")


@query(
    "x_quantile_bucket",
    """
    SELECT o_orderkey, o_totalprice AS value,
           CAST(ntile(10) OVER (ORDER BY o_totalprice, o_orderkey)
                AS BIGINT) AS bucket
    FROM orders WHERE o_totalprice IS NOT NULL
    """,
)
def x_quantile_bucket(spark, sf_dir):
    """Global spend deciles with SQL ntile semantics
    (operators/sorting.py:quantile_bucket) — the two-pass row_rank
    path (NO keyless single-partition window) hash-matched against
    DuckDB's NATIVE ntile(10) over the same (value, id) total order."""
    from pigout_spark.operators.sorting import quantile_bucket

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").alias("value")
    )
    out = quantile_bucket(o, "value", 10, id_cols=["o_orderkey"])
    return out.select("o_orderkey", "value", "bucket")


@query(
    "x_heavy_hitters",
    """
    WITH c AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY user_id
    ), t AS (SELECT CAST(COUNT(*) AS DOUBLE) AS tt FROM events)
    SELECT user_id, cnt, ROUND(cnt / tt, 6) AS share6
    FROM c, t
    ORDER BY cnt DESC, user_id ASC LIMIT 15
    """,
)
def x_heavy_hitters(spark, sf_dir):
    """The 15 heaviest event keys with row shares
    (plans/partitioning.py:heavy_hitters) — the pre-shuffle skew
    checklist; (cnt DESC, key ASC) pins the tie order so the top-n set
    hash-matches."""
    from pigout_spark.plans.partitioning import heavy_hitters

    return heavy_hitters(t(spark, sf_dir, "events"), ["user_id"], top_n=15)


@query(
    "x_skew_stats",
    """
    WITH c AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c FROM events
      GROUP BY event_type
    ), s AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n_rows,
             CAST(COUNT(*) AS BIGINT) AS n_keys,
             MAX(c) AS maxc
      FROM c
    ), h AS (
      SELECT CAST(-SUM(CAST(ROUND((c / n_rows) * ln(c / n_rows), 6) + 0.0
                           AS DECIMAL(20,6))) AS DOUBLE) AS hh
      FROM c, s
    )
    SELECT n_rows, n_keys, ROUND(maxc / n_rows, 6) AS max_share6,
           CASE WHEN n_keys > 1
                THEN LEAST(1.0, ROUND(hh / ln(CAST(n_keys AS DOUBLE)), 6))
           END AS entropy_ratio6
    FROM s, h
    """,
)
def x_skew_stats(spark, sf_dir):
    """Key-distribution summary over event types
    (plans/partitioning.py:skew_stats): max key share + normalized
    Shannon entropy (ROUND-6 p·ln p contributions, decimal-summed —
    the vocab_kl discipline)."""
    from pigout_spark.plans.partitioning import skew_stats

    return skew_stats(t(spark, sf_dir, "events"), ["event_type"])


@query(
    "x_psi_by_source",
    """
    WITH binned AS (
      SELECT source,
             LEAST(9, GREATEST(0,
               CAST(floor((n_chars - 0.0) / 60.0) AS BIGINT))) AS bin
      FROM documents WHERE n_chars IS NOT NULL
    ), rb AS (
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_ref FROM binned GROUP BY bin
    ), cb AS (
      SELECT source, bin, CAST(COUNT(*) AS BIGINT) AS n_cur
      FROM binned GROUP BY source, bin
    ), scaffold AS (
      SELECT s.source, rb.bin, rb.n_ref
      FROM (SELECT DISTINCT source FROM cb) s CROSS JOIN rb
    ), j AS (
      SELECT sc.source, sc.bin, sc.n_ref,
             coalesce(cb.n_cur, 0) AS n_cur
      FROM scaffold sc LEFT JOIN cb
        ON sc.source = cb.source AND sc.bin = cb.bin
    ), t AS (
      SELECT source,
             CAST(SUM(n_ref) AS BIGINT) AS tr,
             CAST(SUM(n_cur) AS BIGINT) AS tc
      FROM j GROUP BY source
    )
    SELECT j.source, j.bin, j.n_ref, j.n_cur,
           ROUND((GREATEST(n_cur / tc, 1e-4) - GREATEST(n_ref / tr, 1e-4))
                 * ln(GREATEST(n_cur / tc, 1e-4)
                      / GREATEST(n_ref / tr, 1e-4)), 6) + 0.0 AS psi6
    FROM j JOIN t ON j.source = t.source
    """,
)
def x_psi_by_source(spark, sf_dir):
    """Per-source PSI against the corpus-wide n_chars reference —
    the GROUPED pre-aggregated-counts path
    (pipeline/drift.py:psi_from_counts(by=['source']), the continuous
    drift-monitor readout shape; every reference bin zero-filled into
    every group so per-group totals compare)."""
    from pigout_spark.pipeline.drift import bin_expr, psi_from_counts

    d = t(spark, sf_dir, "documents").filter(F.col("n_chars").isNotNull())
    b = d.withColumn("bin", bin_expr("n_chars", 10, 0.0, 600.0))
    rc = b.groupBy("bin").agg(F.count(F.lit(1)).alias("n"))
    cc = b.groupBy("source", "bin").agg(F.count(F.lit(1)).alias("n_cur"))
    return psi_from_counts(rc, cc, by=["source"])


@query(
    "x_check_rules",
    """
    WITH s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        CAST(SUM(CASE WHEN coalesce(o_totalprice > 0, FALSE)
                 THEN 0 ELSE 1 END) AS BIGINT) AS v0,
        CAST(SUM(CASE WHEN coalesce(o_totalprice <= 400000, FALSE)
                 THEN 0 ELSE 1 END) AS BIGINT) AS v1,
        CAST(SUM(CASE WHEN coalesce(o_custkey IS NOT NULL, FALSE)
                 THEN 0 ELSE 1 END) AS BIGINT) AS v2
      FROM orders
    )
    SELECT 'price_positive' AS rule, n_rows, v0 AS n_violations,
           v0 = 0 AS pass FROM s
    UNION ALL
    SELECT 'price_under_cap', n_rows, v1, v1 = 0 FROM s
    UNION ALL
    SELECT 'custkey_present', n_rows, v2, v2 = 0 FROM s
    """,
)
def x_check_rules(spark, sf_dir):
    """Declarative load-gate report over orders
    (pipeline/validate.py:check_rules): three named rules folded into
    ONE conditional aggregation — price_under_cap genuinely fails on
    the whale orders, pinning the violation-count path."""
    from pigout_spark.pipeline.validate import check_rules

    return check_rules(
        t(spark, sf_dir, "orders"),
        {
            "price_positive": F.col("o_totalprice") > 0,
            "price_under_cap": F.col("o_totalprice") <= 400_000,
            "custkey_present": F.col("o_custkey").isNotNull(),
        },
    )


@query(
    "x_ref_orphans",
    """
    WITH p AS (
      SELECT DISTINCT p_partkey FROM part WHERE p_partkey % 3 <> 0
    )
    SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem
    WHERE l_partkey IS NOT NULL
      AND l_partkey NOT IN (SELECT p_partkey FROM p)
    GROUP BY l_partkey
    """,
)
def x_ref_orphans(spark, sf_dir):
    """Referential-integrity orphan report
    (pipeline/validate.py:check_ref_integrity): lineitem foreign keys
    against a deliberately-thinned part dimension (every 3rd key
    removed) — one broadcastable anti-join + groupBy; every orphaned
    key and its row count hash-matched."""
    from pigout_spark.pipeline.validate import check_ref_integrity

    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").filter(F.col("p_partkey") % 3 != 0)
    return check_ref_integrity(li, p, {"l_partkey": "p_partkey"})


@query(
    "x_kfold",
    """
    WITH a AS (
      SELECT o_orderkey,
             CAST(floor((('0x' || substring(md5('13' || '|' ||
                    coalesce(o_orderkey::VARCHAR, chr(0))), 1, 8))::BIGINT
                  / 4294967296.0) * 5) AS BIGINT) AS fold
      FROM orders
    )
    SELECT fold, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM a GROUP BY fold
    """,
)
def x_kfold(spark, sf_dir):
    """Deterministic 5-fold cross-validation assignment over orders
    (pipeline/curation.py:kfold_assign, the split_corpus md5
    discipline) — per-fold membership pinned by count, min key, and
    key sum."""
    from pigout_spark.pipeline.curation import kfold_assign

    o = kfold_assign(
        t(spark, sf_dir, "orders"), ["o_orderkey"], k=5, seed="13"
    )
    return o.groupBy("fold").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_orderkey").cast("bigint").alias("min_key"),
        F.sum("o_orderkey").cast("bigint").alias("key_sum"),
    )


@query(
    "x_snapshot_diff",
    """
    WITH base AS (
      SELECT o_orderkey AS k, o_custkey AS c, o_totalprice AS p FROM orders
    ), ch AS (
      SELECT k, c, p + 1000 AS p, 'U' AS op, CAST(1 AS BIGINT) AS ts
      FROM base WHERE k % 7 = 0
      UNION ALL
      SELECT k, c, p, 'D', CAST(2 AS BIGINT) FROM base WHERE k % 11 = 0
      UNION ALL
      SELECT k + 1000000000, c, p, 'I', CAST(1 AS BIGINT)
      FROM base WHERE k % 13 = 0
    ), latest AS (
      SELECT * FROM ch
      QUALIFY row_number() OVER (PARTITION BY k ORDER BY ts DESC) = 1
    ), snap AS (
      SELECT k, c, p FROM base WHERE k NOT IN (SELECT k FROM latest)
      UNION ALL
      SELECT k, c, p FROM latest WHERE op <> 'D'
    ), j AS (
      SELECT coalesce(b.k, s.k) AS k,
             b.k IS NOT NULL AS in_old, s.k IS NOT NULL AS in_new,
             b.c AS oc, b.p AS op_, s.c AS nc, s.p AS np
      FROM base b FULL OUTER JOIN snap s ON b.k = s.k
    ), d AS (
      SELECT k,
        CASE WHEN NOT in_old THEN 'added'
             WHEN NOT in_new THEN 'removed'
             WHEN (oc IS DISTINCT FROM nc) OR (op_ IS DISTINCT FROM np)
               THEN 'changed' END AS diff,
        CASE WHEN in_old AND in_new
                  AND ((oc IS DISTINCT FROM nc) OR (op_ IS DISTINCT FROM np))
             THEN concat_ws(',',
                    CASE WHEN oc IS DISTINCT FROM nc THEN 'o_custkey' END,
                    CASE WHEN op_ IS DISTINCT FROM np THEN 'o_totalprice' END)
        END AS changed
      FROM j
    )
    SELECT k AS o_orderkey, diff, changed FROM d WHERE diff IS NOT NULL
    """,
)
def x_snapshot_diff(spark, sf_dir):
    """Snapshot regression diff (pipeline/scd.py:snapshot_diff): the
    orders base vs its CDC-merged successor — every 7th key 'changed'
    (o_totalprice only), every 11th 'removed', every 13th's offset
    re-insert 'added', keys divisible by 77 resolve to 'removed'
    (delete beat update in compaction); NULL-safe column comparison,
    one full-outer key join."""
    from pigout_spark.pipeline.scd import apply_cdc, snapshot_diff

    base = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    k = F.col("o_orderkey")
    u = (
        base.filter(k % 7 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1000)
        .withColumn("op", F.lit("U"))
        .withColumn("ts", F.lit(1).cast("bigint"))
    )
    d = base.filter(k % 11 == 0).withColumn("op", F.lit("D")).withColumn(
        "ts", F.lit(2).cast("bigint")
    )
    ins = (
        base.filter(k % 13 == 0)
        .withColumn("o_orderkey", k + 1_000_000_000)
        .withColumn("op", F.lit("I"))
        .withColumn("ts", F.lit(1).cast("bigint"))
    )
    snap = apply_cdc(
        base, u.unionByName(d).unionByName(ins), ["o_orderkey"]
    )
    out = snapshot_diff(base, snap, ["o_orderkey"])
    return out.select(
        "o_orderkey",
        "diff",
        F.array_join(F.array_sort("changed_cols"), ",").alias("changed"),
    )


@query(
    "x_cat_assoc",
    """
    WITH cells AS (
      SELECT lang AS a, source AS b, CAST(COUNT(*) AS BIGINT) AS c
      FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
      GROUP BY 1, 2
    ), m AS (
      SELECT a, b, c,
             SUM(c) OVER (PARTITION BY a) AS na,
             SUM(c) OVER (PARTITION BY b) AS nb,
             SUM(c) OVER () AS n
      FROM cells
    ), s AS (
      SELECT MAX(n) AS n,
             CAST(COUNT(DISTINCT a) AS BIGINT) AS ka,
             CAST(COUNT(DISTINCT b) AS BIGINT) AS kb,
             CAST(SUM(CAST(ROUND(
                   (c - CAST(na AS DOUBLE) * nb / n)
                   * (c - CAST(na AS DOUBLE) * nb / n)
                   / (CAST(na AS DOUBLE) * nb / n), 6) + 0.0
                           AS DECIMAL(20,6))) AS DOUBLE) AS chi2_6,
             CAST(SUM(CAST(ROUND((c / n)
                   * ln(c * n / (CAST(na AS DOUBLE) * nb)), 6) + 0.0
                           AS DECIMAL(20,6))) AS DOUBLE) AS mi6
      FROM m
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST((ka - 1) * (kb - 1) AS BIGINT) AS dof, chi2_6,
           CASE WHEN LEAST(ka - 1, kb - 1) > 0
                THEN ROUND(sqrt(chi2_6
                     / (n * CAST(LEAST(ka - 1, kb - 1) AS DOUBLE))), 6)
           END AS cramers_v6,
           mi6
    FROM s
    """,
)
def x_cat_assoc(spark, sf_dir):
    """Language × source association over the documents corpus
    (pipeline/behavioral.py:categorical_association): chi² + dof,
    Cramér's V, and mutual information — per-cell contributions
    ROUND-6 + decimal-summed (the vocab_kl discipline) so the float
    sum is cell-order-free."""
    from pigout_spark.pipeline.behavioral import categorical_association

    return categorical_association(
        t(spark, sf_dir, "documents"), "lang", "source"
    )


@query(
    "x_gini",
    """
    WITH o AS (
      SELECT o_orderpriority AS pri,
             CAST(round(o_totalprice * 100) AS BIGINT) AS vc
      FROM orders WHERE o_totalprice IS NOT NULL
    ), r AS (
      SELECT pri, vc,
             row_number() OVER (PARTITION BY pri ORDER BY vc) AS i
      FROM o
    ), s AS (
      SELECT pri, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(vc AS DECIMAL(19,0))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(i AS DECIMAL(19,0)) * CAST(vc AS DECIMAL(19,0)))
                  AS DOUBLE) AS srx
      FROM r GROUP BY pri
    )
    SELECT pri, n,
           CASE WHEN sx > 0
                THEN ROUND((2 * srx - (n + 1) * sx) / (n * sx), 6) + 0.0
                ELSE 0.0 END AS gini6
    FROM s
    """,
)
def x_gini(spark, sf_dir):
    """Per-priority Gini concentration of order value in cents
    (pipeline/behavioral.py:gini) — ascending-rank weighted sums in
    exact DECIMAL, one IEEE chain per key, rank-tie-invariant by
    construction."""
    from pigout_spark.pipeline.behavioral import gini

    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("pri"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("vc"),
    )
    return gini(o, ["pri"], "vc")


@query(
    "x_proportion_ci",
    """
    WITH e AS (
      SELECT event_type, value > 50 AS f FROM events WHERE value IS NOT NULL
    ), s AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN f THEN 1 ELSE 0 END) AS BIGINT) AS successes
      FROM e GROUP BY event_type
    )
    SELECT event_type, n, successes,
           ROUND(successes / n, 6) AS p6,
           ROUND((successes / n + 3.841458881296 / (2 * n))
                 / (1 + 3.841458881296 / n)
                 - 1.959964 * sqrt((successes / n) * (1 - successes / n) / n
                                + 3.841458881296 / (4 * n * n))
                   / (1 + 3.841458881296 / n), 6) + 0.0 AS lo6,
           ROUND((successes / n + 3.841458881296 / (2 * n))
                 / (1 + 3.841458881296 / n)
                 + 1.959964 * sqrt((successes / n) * (1 - successes / n) / n
                                + 3.841458881296 / (4 * n * n))
                   / (1 + 3.841458881296 / n), 6) + 0.0 AS hi6
    FROM s
    """,
)
def x_proportion_ci(spark, sf_dir):
    """Per-event-type Wilson interval for P(value > 50)
    (pipeline/behavioral.py:proportion_ci) — integer counts + one IEEE
    chain with the z literal, bounds ROUND-6."""
    from pigout_spark.pipeline.behavioral import proportion_ci

    e = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return proportion_ci(
        e.withColumn("f", F.col("value") > 50), ["event_type"], "f",
        z=1.959964,
    )


@query(
    "x_weighted_quantile",
    """
    WITH d AS (
      SELECT l_returnflag AS rf,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS vc,
             CAST(l_quantity AS BIGINT) AS w
      FROM lineitem WHERE l_extendedprice IS NOT NULL
    ), m AS (
      SELECT rf, vc, SUM(w) AS w FROM d GROUP BY rf, vc
    ), c AS (
      SELECT rf, vc,
             SUM(w) OVER (PARTITION BY rf ORDER BY vc
                          ROWS UNBOUNDED PRECEDING) AS cw,
             SUM(w) OVER (PARTITION BY rf) AS tw
      FROM m
    )
    SELECT rf, 0.5 AS p, CAST(MIN(vc) AS DOUBLE) AS q
    FROM c WHERE cw >= ceil(0.5 * tw) GROUP BY rf
    UNION ALL
    SELECT rf, 0.9, CAST(MIN(vc) AS DOUBLE)
    FROM c WHERE cw >= ceil(0.9 * tw) GROUP BY rf
    """,
)
def x_weighted_quantile(spark, sf_dir):
    """Quantity-weighted price quantiles (median + p90) per return
    flag (operators/sorting.py:weighted_quantile) — cumulative integer
    weights with the ceil(p·W) threshold in exact decimal (the
    winsorize fraction-literal lesson); one post-combine key
    exchange."""
    from pigout_spark.operators.sorting import weighted_quantile

    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("rf"),
        F.round(F.col("l_extendedprice") * 100)
        .cast("bigint")
        .cast("double")
        .alias("vc"),
        F.col("l_quantity").cast("bigint").alias("w"),
    )
    return weighted_quantile(li, "vc", "w", [0.5, 0.9], ["rf"])


_KM_CONTRIB = (
    "CAST(ROUND(ln(1 - d / CAST(n_risk AS DOUBLE)), 6) + 0.0"
    " AS DECIMAL(20,6))"
)


@query(
    "x_kaplan_meier",
    f"""
    WITH u AS (
      SELECT user_id,
             date_diff('day',
                       MIN(CAST(date_trunc('second', ts) AS TIMESTAMP)),
                       MAX(CAST(date_trunc('second', ts) AS TIMESTAMP)))
               AS dur,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) = 1
               AS e
      FROM events GROUP BY user_id
    ), per_t AS (
      SELECT dur AS t,
             CAST(SUM(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS leave
      FROM u GROUP BY dur
    ), c AS (
      SELECT t, d,
             SUM(leave) OVER ()
               - coalesce(SUM(leave) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
      FROM per_t
    ), k AS (
      SELECT t, n_risk, d,
             MAX(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
               OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS dead,
             coalesce(CAST(SUM(CASE WHEN d < n_risk THEN {_KM_CONTRIB} END)
               OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS DOUBLE), 0.0)
               AS logs
      FROM c
    )
    SELECT 'all' AS k, t, CAST(n_risk AS BIGINT) AS n_risk, d,
           CASE WHEN dead = 1 THEN 0.0 ELSE ROUND(exp(logs), 6) END AS surv6
    FROM k WHERE d > 0
    """,
)
def x_kaplan_meier(spark, sf_dir):
    """Kaplan-Meier time-to-churn curve over user activity spans
    (pipeline/behavioral.py:kaplan_meier): duration = days between a
    user's first and last event, event = the user purchased (else
    censored) — risk sets exact integers, the product limit in ROUND-6
    log domain (the vocab_kl ln discipline), single 'all' curve as a
    conscious one-key pass."""
    from pigout_spark.pipeline.behavioral import kaplan_meier

    ev = _events_s(spark, sf_dir)
    u = ev.groupBy("user_id").agg(
        F.datediff(F.max("ts"), F.min("ts")).cast("double").alias("dur"),
        (
            F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            == 1
        ).alias("e"),
    )
    out = kaplan_meier(u.withColumn("k", F.lit("all")), "dur", "e", ["k"])
    return out.select("k", "t", "n_risk", "d", "surv6")


@query(
    "x_logrank",
    """
    WITH u AS (
      SELECT user_id % 2 AS g,
             date_diff('day',
                       MIN(CAST(date_trunc('second', ts) AS TIMESTAMP)),
                       MAX(CAST(date_trunc('second', ts) AS TIMESTAMP)))
               AS dur,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) = 1
               AS e
      FROM events GROUP BY user_id
    ), per AS (
      SELECT dur AS t, g,
             CAST(SUM(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS leave
      FROM u GROUP BY dur, g
    ), byt AS (
      SELECT t, SUM(d) AS d_all, SUM(leave) AS l_all,
             SUM(CASE WHEN g = 0 THEN d ELSE 0 END) AS d1,
             SUM(CASE WHEN g = 0 THEN leave ELSE 0 END) AS l1
      FROM per GROUP BY t
    ), c AS (
      SELECT t, d_all, d1,
             SUM(l_all) OVER ()
               - coalesce(SUM(l_all) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_all,
             SUM(l1) OVER ()
               - coalesce(SUM(l1) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n1,
             l_all
      FROM byt
    ), s AS (
      SELECT CAST(SUM(l_all) AS BIGINT) AS n,
             CAST(SUM(d_all) AS BIGINT) AS n_events,
             CAST(SUM(CAST(ROUND(d1 - CAST(n1 AS DOUBLE) * d_all / n_all, 6)
                           + 0.0 AS DECIMAL(20,6))) AS DOUBLE)
               AS o_minus_e6,
             CAST(SUM(CASE WHEN n_all > 1 THEN
                   CAST(ROUND(CAST(d_all AS DOUBLE)
                        * (CAST(n1 AS DOUBLE) / n_all)
                        * (1 - CAST(n1 AS DOUBLE) / n_all)
                        * (n_all - CAST(d_all AS DOUBLE)) / (n_all - 1), 6)
                        + 0.0 AS DECIMAL(20,6))
                   ELSE CAST(0 AS DECIMAL(20,6)) END) AS DOUBLE) AS var6
      FROM c
    )
    SELECT n, n_events, o_minus_e6, var6,
           CASE WHEN var6 > 0
                THEN ROUND(o_minus_e6 / sqrt(var6), 6) END AS z6
    FROM s
    """,
)
def x_logrank(spark, sf_dir):
    """Log-rank test between even/odd user cohorts' time-to-churn
    curves (pipeline/behavioral.py:logrank_test) — per-event-time O−E
    and variance terms ROUND-6 decimal-summed over the merged risk
    table, one final IEEE divide/sqrt; censoring-only times contribute
    identical zeros so no filter is needed."""
    from pigout_spark.pipeline.behavioral import logrank_test

    ev = _events_s(spark, sf_dir)
    u = ev.groupBy("user_id").agg(
        F.datediff(F.max("ts"), F.min("ts")).cast("double").alias("dur"),
        (
            F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            == 1
        ).alias("e"),
    ).withColumn("g", F.col("user_id") % 2)
    return logrank_test(u, "dur", "e", "g")


@query(
    "x_odds_ratio",
    """
    WITH e AS (
      SELECT value > 50 AS exp_, event_type = 'purchase' AS out_
      FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
    ), s AS (
      SELECT
        CAST(SUM(CASE WHEN exp_ AND out_ THEN 1 ELSE 0 END) AS BIGINT) AS a,
        CAST(SUM(CASE WHEN exp_ AND NOT out_ THEN 1 ELSE 0 END) AS BIGINT)
          AS b,
        CAST(SUM(CASE WHEN NOT exp_ AND out_ THEN 1 ELSE 0 END) AS BIGINT)
          AS c,
        CAST(SUM(CASE WHEN NOT exp_ AND NOT out_ THEN 1 ELSE 0 END)
             AS BIGINT) AS d
      FROM e
    )
    SELECT a, b, c, d,
      CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
        ROUND(exp(ln(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c))), 6)
        + 0.0 END AS or6,
      CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
        ROUND(exp(ln(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c))
              - 1.959964 * sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)), 6)
        + 0.0 END AS or_lo6,
      CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
        ROUND(exp(ln(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c))
              + 1.959964 * sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)), 6)
        + 0.0 END AS or_hi6,
      CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
        ROUND(exp(ln((CAST(a AS DOUBLE) / (a + b))
                     / (CAST(c AS DOUBLE) / (c + d)))), 6) + 0.0
        END AS rr6,
      CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
        ROUND(exp(ln((CAST(a AS DOUBLE) / (a + b))
                     / (CAST(c AS DOUBLE) / (c + d)))
              - 1.959964 * sqrt(CAST(b AS DOUBLE) / (a * (a + b))
                             + CAST(d AS DOUBLE) / (c * (c + d)))), 6)
        + 0.0 END AS rr_lo6,
      CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
        ROUND(exp(ln((CAST(a AS DOUBLE) / (a + b))
                     / (CAST(c AS DOUBLE) / (c + d)))
              + 1.959964 * sqrt(CAST(b AS DOUBLE) / (a * (a + b))
                             + CAST(d AS DOUBLE) / (c * (c + d)))), 6)
        + 0.0 END AS rr_hi6
    FROM s
    """,
)
def x_odds_ratio(spark, sf_dir):
    """Odds ratio / relative risk with log-domain Wald CIs for
    "high-value event" exposure vs purchase outcome
    (pipeline/behavioral.py:odds_ratio) — four exact integer cells,
    one IEEE/ln chain, ROUND-6 + signed-zero normalized."""
    from pigout_spark.pipeline.behavioral import odds_ratio

    e = t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    return odds_ratio(
        e.withColumn("exp_", F.col("value") > 50).withColumn(
            "out_", F.col("event_type") == "purchase"
        ),
        "exp_",
        "out_",
        z=1.959964,
    )


# --- r9 additions: nonparametric statistics family (r10 rotation queue) ---
@query(
    "x_spearman",
    sql="""
    WITH d AS (
      SELECT l_returnflag AS k, l_quantity AS x, l_extendedprice AS y
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
    ), r AS (
      SELECT k,
        CAST(2 * rank() OVER (PARTITION BY k ORDER BY x)
             + count(*) OVER (PARTITION BY k, x) - 1 AS BIGINT) AS rx,
        CAST(2 * rank() OVER (PARTITION BY k ORDER BY y)
             + count(*) OVER (PARTITION BY k, y) - 1 AS BIGINT) AS ry
      FROM d
    ), s AS (
      SELECT k, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(rx AS DECIMAL(38,0))) AS DOUBLE) AS sx,
        CAST(SUM(CAST(ry AS DECIMAL(38,0))) AS DOUBLE) AS sy,
        CAST(SUM(CAST(rx * rx AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
        CAST(SUM(CAST(ry * ry AS DECIMAL(38,0))) AS DOUBLE) AS syy,
        CAST(SUM(CAST(rx * ry AS DECIMAL(38,0))) AS DOUBLE) AS sxy
      FROM r GROUP BY k
    )
    SELECT k AS l_returnflag, n,
      CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0 THEN
        ROUND((n * sxy - sx * sy)
              / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) + 0.0
      END AS rho6
    FROM s
    """,
)
def x_spearman(spark, sf_dir):
    """Per-returnflag Spearman rank correlation of quantity vs extended
    price (pipeline/behavioral.py:spearman_corr) — doubled average
    ranks are exact integers, five DECIMAL(38,0) moment sums, one IEEE
    closed-form chain ROUND-6; the oracle replays the identical rank
    construction in DuckDB's own window functions."""
    from pigout_spark.pipeline.behavioral import spearman_corr

    li = t(spark, sf_dir, "lineitem")
    return spearman_corr(
        li, ["l_returnflag"], "l_quantity", "l_extendedprice"
    )


@query(
    "x_mann_whitney",
    sql="""
    WITH d AS (
      SELECT event_type = 'purchase' AS g, value AS v
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('view', 'purchase')
    ), r AS (
      SELECT g,
        CAST(2 * rank() OVER (ORDER BY v)
             + count(*) OVER (PARTITION BY v) - 1 AS BIGINT) AS r2,
        v
      FROM d
    ), pv AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS t,
        SUM(CASE WHEN g THEN CAST(r2 AS DECIMAL(38,0)) ELSE 0 END) AS r2t,
        CAST(SUM(CASE WHEN g THEN 1 ELSE 0 END) AS BIGINT) AS n1v
      FROM r GROUP BY v
    ), s AS (
      SELECT CAST(SUM(n1v) AS BIGINT) AS n1,
             CAST(SUM(t) - SUM(n1v) AS BIGINT) AS n2,
             CAST(SUM(r2t) AS DOUBLE) AS sr2,
             CAST(SUM(CAST(t * t * t - t AS DECIMAL(38,0))) AS DOUBLE)
               AS ties
      FROM pv
    )
    SELECT n1, n2,
      CASE WHEN n1 > 0 AND n2 > 0 THEN
        sr2 / 2.0 - n1 * (n1 + 1.0) / 2.0 END AS u1,
      CASE WHEN n1 > 0 AND n2 > 0 THEN
        CAST(n1 AS DOUBLE) * n2 - (sr2 / 2.0 - n1 * (n1 + 1.0) / 2.0)
      END AS u2,
      CASE WHEN n1 > 0 AND n2 > 0
                AND (n1 * CAST(n2 AS DOUBLE) / 12.0)
                    * ((n1 + n2 + 1.0)
                       - ties / ((n1 + CAST(n2 AS DOUBLE))
                                 * (n1 + n2 - 1.0))) > 0 THEN
        ROUND(((sr2 / 2.0 - n1 * (n1 + 1.0) / 2.0)
               - n1 * CAST(n2 AS DOUBLE) / 2.0)
              / sqrt((n1 * CAST(n2 AS DOUBLE) / 12.0)
                     * ((n1 + n2 + 1.0)
                        - ties / ((n1 + CAST(n2 AS DOUBLE))
                                  * (n1 + n2 - 1.0)))), 6) + 0.0
      END AS z6,
      CASE WHEN n1 > 0 AND n2 > 0 THEN
        ROUND(2.0 * (sr2 / 2.0 - n1 * (n1 + 1.0) / 2.0)
              / (CAST(n1 AS DOUBLE) * n2) - 1.0, 6) + 0.0
      END AS cliffs_delta6
    FROM s
    """,
)
def x_mann_whitney(spark, sf_dir):
    """Mann–Whitney U for purchase vs view event values
    (pipeline/behavioral.py:mann_whitney_u) — combined doubled average
    ranks, tie-corrected normal z, everything from exact integer rank
    and tie sums through one IEEE chain ROUND-6."""
    from pigout_spark.pipeline.behavioral import mann_whitney_u

    e = t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
        & F.col("event_type").isin("view", "purchase")
    )
    return mann_whitney_u(
        e.withColumn("g", F.col("event_type") == "purchase"), "g", "value"
    )


@query(
    "x_bh_fdr",
    sql="""
    WITH binned AS (
      SELECT source,
             LEAST(9, GREATEST(0,
               CAST(floor(n_chars / 60.0) AS BIGINT))) AS bin
      FROM documents WHERE n_chars IS NOT NULL AND source IS NOT NULL
    ), sb AS (
      SELECT source, bin, CAST(COUNT(*) AS BIGINT) AS ns
      FROM binned GROUP BY 1, 2
    ), cb AS (
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS nc FROM binned GROUP BY 1
    ), scaffold AS (
      SELECT s.source, c.bin, c.nc
      FROM (SELECT DISTINCT source FROM sb) s CROSS JOIN cb c
    ), j AS (
      SELECT sc.source, sc.bin, coalesce(sb.ns, 0) AS ns, sc.nc
      FROM scaffold sc
      LEFT JOIN sb ON sb.source = sc.source AND sb.bin = sc.bin
    ), tot AS (
      SELECT source, CAST(SUM(ns) AS BIGINT) AS tn,
             CAST(SUM(nc) AS BIGINT) AS tc
      FROM j GROUP BY 1
    ), e AS (
      SELECT j.source,
        abs(SUM(ns) OVER (PARTITION BY j.source ORDER BY bin
                          ROWS UNBOUNDED PRECEDING) / CAST(tn AS DOUBLE)
          - SUM(nc) OVER (PARTITION BY j.source ORDER BY bin
                          ROWS UNBOUNDED PRECEDING) / CAST(tc AS DOUBLE))
          AS dd, tn, tc
      FROM j JOIN tot USING (source)
    ), dmax AS (
      SELECT source, MAX(dd) AS d, MAX(tn) AS tn, MAX(tc) AS tc
      FROM e GROUP BY 1
    ), p AS (
      SELECT source,
        ROUND(LEAST(1.0, 2.0 * exp(-2.0 * d * d
              * (CAST(tn AS DOUBLE) * tc / (tn + tc)))), 6) + 0.0 AS p6
      FROM dmax
    ), ranked AS (
      SELECT source, p6, CAST(COUNT(*) OVER () AS BIGINT) AS m,
             row_number() OVER (ORDER BY p6 DESC, source DESC) AS rkd
      FROM p
    )
    SELECT source, p6, m,
      ROUND(LEAST(1.0, MIN(p6 * m / (m - rkd + 1))
            OVER (ORDER BY p6 DESC, source DESC
                  ROWS UNBOUNDED PRECEDING)), 6) + 0.0 AS q6,
      ROUND(LEAST(1.0, MIN(p6 * m / (m - rkd + 1))
            OVER (ORDER BY p6 DESC, source DESC
                  ROWS UNBOUNDED PRECEDING)), 6) + 0.0 <= 0.05 AS reject
    FROM ranked
    """,
)
def x_bh_fdr(spark, sf_dir):
    """The full multiple-testing workflow: a per-source KS test of the
    n_chars distribution against the corpus (binned ECDF d, asymptotic
    p = min(1, 2·e^(−2d²·n_eff)) — exp-only, so it hashes), then
    Benjamini–Hochberg FDR adjustment across the ~20 sources
    (pipeline/behavioral.py:bh_fdr).  q-values are tie-invariant
    (suffix-min collapses equal p), ROUND-6 on both p and q."""
    from pigout_spark.pipeline.behavioral import bh_fdr
    from pigout_spark.pipeline.drift import bin_expr
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull() & F.col("source").isNotNull()
    )
    b = d.select("source", bin_expr("n_chars", 10, 0.0, 600.0).alias("bin"))
    sb = b.groupBy("source", "bin").agg(F.count(F.lit(1)).alias("ns"))
    cb = b.groupBy("bin").agg(F.count(F.lit(1)).alias("nc"))
    scaffold = sb.select("source").distinct().crossJoin(F.broadcast(cb))
    sb2 = sb.select(
        F.col("source").alias("__s"), F.col("bin").alias("__b"), "ns"
    )
    j = scaffold.join(
        sb2,
        (F.col("source") == F.col("__s")) & (F.col("bin") == F.col("__b")),
        "left",
    ).select(
        "source", "bin", F.coalesce("ns", F.lit(0)).alias("ns"), "nc"
    )
    wt = Window.partitionBy("source")
    wc = Window.partitionBy("source").orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    e = (
        j.withColumn("tn", F.sum("ns").over(wt))
        .withColumn("tc", F.sum("nc").over(wt))
        .withColumn(
            "dd",
            F.abs(
                F.sum("ns").over(wc) / F.col("tn").cast("double")
                - F.sum("nc").over(wc) / F.col("tc").cast("double")
            ),
        )
    )
    dmax = e.groupBy("source").agg(
        F.max("dd").alias("d"),
        F.max("tn").alias("tn"),
        F.max("tc").alias("tc"),
    )
    n_eff = F.col("tn").cast("double") * F.col("tc") / (
        F.col("tn") + F.col("tc")
    )
    p = dmax.select(
        "source",
        (
            F.round(
                F.least(
                    F.lit(1.0),
                    2.0 * F.exp(-2.0 * F.col("d") * F.col("d") * n_eff),
                ),
                6,
            )
            + F.lit(0.0)
        ).alias("p6"),
    )
    return bh_fdr(p, "p6", alpha=0.05)


@query(
    "x_kruskal",
    sql="""
    WITH d AS (
      SELECT event_type AS g, value AS v
      FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
    ), r AS (
      SELECT g,
        CAST(2 * rank() OVER (ORDER BY v)
             + count(*) OVER (PARTITION BY v) - 1 AS BIGINT) AS r2, v
      FROM d
    ), pg AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS ng,
             CAST(SUM(CAST(r2 AS DECIMAL(38,0))) AS DOUBLE) AS sr2
      FROM r GROUP BY g
    ), tt AS (
      SELECT CAST(SUM(CAST(t * t * t - t AS DECIMAL(38,0))) AS DOUBLE)
               AS tt
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM r GROUP BY v)
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(ng) AS BIGINT) AS n,
             SUM((sr2 / 2.0) * (sr2 / 2.0) / CAST(ng AS DOUBLE)) AS srn
      FROM pg
    )
    SELECT k, n,
      CASE WHEN k >= 2
                AND (1.0 - tt / (CAST(n AS DOUBLE) * n * n - n)) > 0 THEN
        ROUND((12.0 / (CAST(n AS DOUBLE) * (n + 1.0)) * srn
               - 3.0 * (n + 1.0))
              / (1.0 - tt / (CAST(n AS DOUBLE) * n * n - n)), 6) + 0.0
      END AS h6
    FROM s, tt
    """,
)
def x_kruskal(spark, sf_dir):
    """Kruskal–Wallis H across ALL event types' value distributions
    (pipeline/behavioral.py:kruskal_wallis) — the k-group rank test
    completing the nonparametric family; tie-corrected, exact integer
    rank/tie sums, one IEEE chain ROUND-6."""
    from pigout_spark.pipeline.behavioral import kruskal_wallis

    e = t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    return kruskal_wallis(e, "event_type", "value")


@query(
    "x_brown_forsythe",
    sql="""
    WITH d AS (
      SELECT event_type AS g, value AS v
      FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
    ), r AS (
      SELECT g, v,
             row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
             COUNT(*) OVER (PARTITION BY g) AS n
      FROM d
    ), med AS (
      SELECT g,
             MIN(CASE WHEN rn = CAST(ceil(n / 2.0) AS INT) THEN v END)
               AS m
      FROM r GROUP BY g
    ), z AS (
      SELECT d.g, abs(d.v - med.m) AS z FROM d JOIN med ON d.g = med.g
    ), pg AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS ng,
             CAST(SUM(CAST(z AS DECIMAL(38,6))) AS DOUBLE) AS sz,
             CAST(SUM(CAST(z * z AS DECIMAL(38,6))) AS DOUBLE) AS szz
      FROM z GROUP BY g
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(ng) AS BIGINT) AS n,
             SUM(sz) AS tz,
             SUM(sz * sz / CAST(ng AS DOUBLE)) AS szn,
             SUM(szz - sz * sz / CAST(ng AS DOUBLE)) AS ssw
      FROM pg
    )
    SELECT k, n,
      CASE WHEN k >= 2 AND n > k AND ssw > 0 THEN
        ROUND(((CAST(n AS DOUBLE) - k) / (CAST(k AS DOUBLE) - 1.0))
              * (szn - tz * tz / CAST(n AS DOUBLE)) / ssw, 6) + 0.0
      END AS w6
    FROM s
    """,
)
def x_brown_forsythe(spark, sf_dir):
    """Brown–Forsythe W across event types' value spreads
    (pipeline/behavioral.py:brown_forsythe) — ANOVA on absolute
    deviations from each group's MEDIAN order statistic; the variance
    companion to the Kruskal–Wallis location test."""
    from pigout_spark.pipeline.behavioral import brown_forsythe

    e = t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    return brown_forsythe(e, "event_type", "value")


@query(
    "x_fisher_exact",
    sql="""
    WITH d AS (
      SELECT value > 50 AS e_, event_type = 'purchase' AS o_
      FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
    ), cells AS (
      SELECT
        CAST(SUM(CASE WHEN e_ AND o_ THEN 1 ELSE 0 END) AS BIGINT) AS a,
        CAST(SUM(CASE WHEN e_ AND NOT o_ THEN 1 ELSE 0 END) AS BIGINT)
          AS b,
        CAST(SUM(CASE WHEN NOT e_ AND o_ THEN 1 ELSE 0 END) AS BIGINT)
          AS c,
        CAST(SUM(CASE WHEN NOT e_ AND NOT o_ THEN 1 ELSE 0 END)
             AS BIGINT) AS d
      FROM d
    ), m AS (
      SELECT a, b, c, d, a + b AS r1, c + d AS r2, a + c AS c1,
             a + b + c + d AS n
      FROM cells
    ), ints AS (
      SELECT row_number() OVER () AS i FROM d
    ), lf AS MATERIALIZED (
      SELECT i, SUM(ln(CAST(i AS DOUBLE)))
                OVER (ORDER BY i ROWS UNBOUNDED PRECEDING) AS lf
      FROM ints
      UNION ALL SELECT 0, 0.0
    ), den AS (
      SELECT ln_.lf - lc1.lf - lnc1.lf AS lden
      FROM m
      JOIN lf ln_  ON ln_.i  = m.n
      JOIN lf lc1  ON lc1.i  = m.c1
      JOIN lf lnc1 ON lnc1.i = m.n - m.c1
    ), terms AS MATERIALIZED (
      SELECT lf0.i AS k, m.a,
        CAST(ROUND(exp(l1.lf - l2.lf - l3.lf + l4.lf - l5.lf - l6.lf
                       - den.lden), 12) AS DECIMAL(22,12)) AS pmf
      FROM lf lf0, m, den,
           lf l1, lf l2, lf l3, lf l4, lf l5, lf l6
      WHERE lf0.i BETWEEN GREATEST(0, m.c1 - m.r2) AND LEAST(m.r1, m.c1)
        AND l1.i = m.r1 AND l2.i = lf0.i AND l3.i = m.r1 - lf0.i
        AND l4.i = m.r2 AND l5.i = m.c1 - lf0.i
        AND l6.i = m.r2 - m.c1 + lf0.i
    ), obs AS (
      SELECT pmf AS pobs FROM terms WHERE k = a
    ), agg AS (
      SELECT
        CAST(SUM(CASE WHEN CAST(pmf AS DOUBLE)
                           <= CAST(pobs AS DOUBLE) * (1.0 + 1e-7)
                      THEN pmf END) AS DOUBLE) AS p2,
        CAST(SUM(CASE WHEN k <= a THEN pmf END) AS DOUBLE) AS pl,
        CAST(SUM(CASE WHEN k >= a THEN pmf END) AS DOUBLE) AS pg
      FROM terms, obs
    )
    SELECT a, b, c, d,
      coalesce(ROUND(LEAST(1.0, p2), 6) + 0.0, 1.0) AS p_two6,
      coalesce(ROUND(LEAST(1.0, pl), 6) + 0.0, 1.0) AS p_less6,
      coalesce(ROUND(LEAST(1.0, pg), 6) + 0.0, 1.0) AS p_greater6
    FROM cells, agg
    """,
)
def x_fisher_exact(spark, sf_dir):
    """Fisher's exact test on the high-value-exposure × purchase 2×2
    (pipeline/behavioral.py:fisher_exact) — the hypergeometric tail
    computed DISTRIBUTIVELY: the ln-factorial table is a cumulative
    window over a row_number relation (identical IEEE fold in both
    engines), k-terms join it 6×, tails fold as DECIMAL(22,12) sums of
    ROUND-12 terms."""
    from pigout_spark.pipeline.behavioral import fisher_exact

    ev = t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    return fisher_exact(
        ev.withColumn("e_", F.col("value") > 50).withColumn(
            "o_", F.col("event_type") == "purchase"
        ),
        "e_",
        "o_",
    )


@query(
    "x_grouped_mw_fdr",
    sql="""
    WITH d AS (
      SELECT source, lang = 'en' AS g, CAST(n_chars AS DOUBLE) AS v
      FROM documents
      WHERE n_chars IS NOT NULL AND lang IS NOT NULL
        AND source IS NOT NULL
    ), r AS (
      SELECT source, g,
        CAST(2 * rank() OVER (PARTITION BY source ORDER BY v)
             + count(*) OVER (PARTITION BY source, v) - 1 AS BIGINT)
          AS r2,
        v
      FROM d
    ), pv AS (
      SELECT source, v, CAST(COUNT(*) AS BIGINT) AS t,
        SUM(CASE WHEN g THEN CAST(r2 AS DECIMAL(38,0)) ELSE 0 END) AS r2t,
        CAST(SUM(CASE WHEN g THEN 1 ELSE 0 END) AS BIGINT) AS n1v
      FROM r GROUP BY source, v
    ), s AS (
      SELECT source,
             CAST(SUM(n1v) AS BIGINT) AS n1,
             CAST(SUM(t) - SUM(n1v) AS BIGINT) AS n2,
             CAST(SUM(r2t) AS DOUBLE) AS sr2,
             CAST(SUM(CAST(t * t * t - t AS DECIMAL(38,0))) AS DOUBLE)
               AS ties
      FROM pv GROUP BY source
    ), zz AS (
      SELECT source, n1, n2,
        CASE WHEN n1 > 0 AND n2 > 0
                  AND (n1 * CAST(n2 AS DOUBLE) / 12.0)
                      * ((n1 + n2 + 1.0)
                         - ties / ((n1 + CAST(n2 AS DOUBLE))
                                   * (n1 + n2 - 1.0))) > 0 THEN
          ROUND(((sr2 / 2.0 - n1 * (n1 + 1.0) / 2.0)
                 - n1 * CAST(n2 AS DOUBLE) / 2.0)
                / sqrt((n1 * CAST(n2 AS DOUBLE) / 12.0)
                       * ((n1 + n2 + 1.0)
                          - ties / ((n1 + CAST(n2 AS DOUBLE))
                                    * (n1 + n2 - 1.0)))), 6) + 0.0
        END AS z6
      FROM s
    ), p AS (
      SELECT source, n1, n2, z6,
        ROUND(LEAST(1.0, 2.0 * (exp(-abs(z6) * abs(z6) / 2.0)
          * 0.3989422804014327
          * ((1.0 / (1.0 + 0.2316419 * abs(z6)))
             * (0.319381530 + (1.0 / (1.0 + 0.2316419 * abs(z6)))
               * (-0.356563782 + (1.0 / (1.0 + 0.2316419 * abs(z6)))
                 * (1.781477937 + (1.0 / (1.0 + 0.2316419 * abs(z6)))
                   * (-1.821255978 + (1.0 / (1.0 + 0.2316419 * abs(z6)))
                     * 1.330274429))))))), 6) + 0.0 AS p6
      FROM zz WHERE z6 IS NOT NULL
    ), ranked AS (
      SELECT source, n1, n2, z6, p6,
             CAST(COUNT(*) OVER () AS BIGINT) AS m,
             row_number() OVER (ORDER BY p6 DESC, source DESC) AS rkd
      FROM p
    )
    SELECT source, n1, n2, z6, p6, m,
      ROUND(LEAST(1.0, MIN(p6 * m / (m - rkd + 1))
            OVER (ORDER BY p6 DESC, source DESC
                  ROWS UNBOUNDED PRECEDING)), 6) + 0.0 AS q6,
      ROUND(LEAST(1.0, MIN(p6 * m / (m - rkd + 1))
            OVER (ORDER BY p6 DESC, source DESC
                  ROWS UNBOUNDED PRECEDING)), 6) + 0.0 <= 0.05 AS reject
    FROM ranked
    """,
)
def x_grouped_mw_fdr(spark, sf_dir):
    """The r9-verdict grouped-statistics workflow END-TO-END, no Python
    loop: per-source Mann-Whitney U of the n_chars distribution
    between English and non-English documents
    (pipeline/behavioral.py:mann_whitney_u with ``keys=`` — one key
    exchange shared by the rank window, tie window, and both folds),
    z6 → two-sided normal p via the Abramowitz–Stegun 26.2.17
    polynomial (behavioral.py:normal_two_sided_p — exp-only, oracle
    replays the identical IEEE chain), then Benjamini–Hochberg FDR
    across the ~20 sources (behavioral.py:bh_fdr).  q-values are
    tie-invariant, so the oracle's explicit tiebreak and Spark's
    arbitrary tie order hash identically."""
    from pigout_spark.pipeline.behavioral import (
        bh_fdr,
        mann_whitney_u,
        normal_two_sided_p,
    )

    d = t(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull()
        & F.col("lang").isNotNull()
        & F.col("source").isNotNull()
    )
    mw = mann_whitney_u(
        d.select(
            "source",
            (F.col("lang") == "en").alias("g"),
            F.col("n_chars").cast("double").alias("v"),
        ),
        "g",
        "v",
        keys=["source"],
    )
    p = mw.filter(F.col("z6").isNotNull()).select(
        "source", "n1", "n2", "z6", normal_two_sided_p("z6").alias("p6")
    )
    return bh_fdr(p, "p6", alpha=0.05)


@query(
    "x_grouped_kruskal",
    sql="""
    WITH d AS (
      SELECT source, lang AS g, CAST(n_chars AS DOUBLE) AS v
      FROM documents
      WHERE n_chars IS NOT NULL AND lang IS NOT NULL
        AND source IS NOT NULL
    ), r AS (
      SELECT source, g,
        CAST(2 * rank() OVER (PARTITION BY source ORDER BY v)
             + count(*) OVER (PARTITION BY source, v) - 1 AS BIGINT)
          AS r2,
        v
      FROM d
    ), pg AS (
      SELECT source, g, CAST(COUNT(*) AS BIGINT) AS ng,
             CAST(SUM(CAST(r2 AS DECIMAL(38,0))) AS DOUBLE) AS sr2
      FROM r GROUP BY source, g
    ), tt AS (
      SELECT source,
             CAST(SUM(CAST(t * t * t - t AS DECIMAL(38,0))) AS DOUBLE)
               AS tt
      FROM (SELECT source, CAST(COUNT(*) AS BIGINT) AS t
            FROM r GROUP BY source, v)
      GROUP BY source
    ), s AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(ng) AS BIGINT) AS n,
             SUM((sr2 / 2.0) * (sr2 / 2.0) / CAST(ng AS DOUBLE)) AS srn
      FROM pg GROUP BY source
    )
    SELECT s.source, k, n,
      CASE WHEN k >= 2
                AND (1.0 - tt / (CAST(n AS DOUBLE) * n * n - n)) > 0 THEN
        ROUND((12.0 / (CAST(n AS DOUBLE) * (n + 1.0)) * srn
               - 3.0 * (n + 1.0))
              / (1.0 - tt / (CAST(n AS DOUBLE) * n * n - n)), 6) + 0.0
      END AS h6
    FROM s JOIN tt ON s.source = tt.source
    """,
)
def x_grouped_kruskal(spark, sf_dir):
    """Per-source Kruskal–Wallis H across the langs' n_chars
    distributions (behavioral.py:kruskal_wallis with ``keys=`` — the
    r10 grouped form: one key exchange, per-key tie totals joined back
    on the key)."""
    from pigout_spark.pipeline.behavioral import kruskal_wallis

    d = t(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull()
        & F.col("lang").isNotNull()
        & F.col("source").isNotNull()
    )
    return kruskal_wallis(
        d.select(
            "source",
            F.col("lang").alias("g"),
            F.col("n_chars").cast("double").alias("v"),
        ),
        "g",
        "v",
        keys=["source"],
    )


@query(
    "x_grouped_bf",
    sql="""
    WITH d AS (
      SELECT source, lang = 'en' AS g, CAST(n_chars AS DOUBLE) AS v
      FROM documents
      WHERE n_chars IS NOT NULL AND lang IS NOT NULL
        AND source IS NOT NULL
    ), ranked AS (
      SELECT source, g, v,
        row_number() OVER (PARTITION BY source, g ORDER BY v) AS rn,
        count(*) OVER (PARTITION BY source, g) AS n
      FROM d
    ), med AS (
      SELECT source, g,
        MIN(CASE WHEN rn = CAST(ceil(CAST(n AS DOUBLE) / 2.0) AS INT)
                 THEN v END) AS mv
      FROM ranked GROUP BY source, g
    ), z AS (
      SELECT d.source, d.g, abs(d.v - med.mv) AS z
      FROM d JOIN med ON d.source = med.source AND d.g = med.g
    ), pg AS (
      SELECT source, g, CAST(COUNT(*) AS BIGINT) AS ng,
        CAST(SUM(CAST(z AS DECIMAL(38,6))) AS DOUBLE) AS sz,
        CAST(SUM(CAST(z * z AS DECIMAL(38,6))) AS DOUBLE) AS szz
      FROM z GROUP BY source, g
    ), s AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(ng) AS BIGINT) AS n,
             SUM(sz) AS tz,
             SUM(sz * sz / CAST(ng AS DOUBLE)) AS szn,
             SUM(szz - sz * sz / CAST(ng AS DOUBLE)) AS ssw
      FROM pg GROUP BY source
    )
    SELECT source, k, n,
      CASE WHEN k >= 2 AND n > k AND ssw > 0 THEN
        ROUND(((CAST(n AS DOUBLE) - k) / (CAST(k AS DOUBLE) - 1.0))
              * (szn - tz * tz / CAST(n AS DOUBLE)) / ssw, 6) + 0.0
      END AS w6
    FROM s
    """,
)
def x_grouped_bf(spark, sf_dir):
    """Per-source Brown–Forsythe spread test of n_chars between
    English and non-English docs (behavioral.py:brown_forsythe with
    ``keys=`` — one (key, group) exchange shared by the median window,
    deviation pass, and folds)."""
    from pigout_spark.pipeline.behavioral import brown_forsythe

    d = t(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull()
        & F.col("lang").isNotNull()
        & F.col("source").isNotNull()
    )
    return brown_forsythe(
        d.select(
            "source",
            (F.col("lang") == "en").alias("g"),
            F.col("n_chars").cast("double").alias("v"),
        ),
        "g",
        "v",
        keys=["source"],
    )


@query(
    "x_grouped_fisher",
    sql="""
    WITH d AS (
      SELECT source, lang = 'en' AS e_, n_chars > 300 AS o_
      FROM documents
      WHERE n_chars IS NOT NULL AND lang IS NOT NULL
        AND source IS NOT NULL
    ), cells AS (
      SELECT source,
        CAST(SUM(CASE WHEN e_ AND o_ THEN 1 ELSE 0 END) AS BIGINT) AS a,
        CAST(SUM(CASE WHEN e_ AND NOT o_ THEN 1 ELSE 0 END) AS BIGINT)
          AS b,
        CAST(SUM(CASE WHEN NOT e_ AND o_ THEN 1 ELSE 0 END) AS BIGINT)
          AS c,
        CAST(SUM(CASE WHEN NOT e_ AND NOT o_ THEN 1 ELSE 0 END)
             AS BIGINT) AS d
      FROM d GROUP BY source
    ), m AS (
      SELECT source, a, b, c, d, a + b AS r1, c + d AS r2, a + c AS c1,
             a + b + c + d AS n
      FROM cells
    ), ints AS (
      SELECT row_number() OVER () AS i FROM d
    ), lf AS MATERIALIZED (
      SELECT i, SUM(ln(CAST(i AS DOUBLE)))
                OVER (ORDER BY i ROWS UNBOUNDED PRECEDING) AS lf
      FROM ints
      UNION ALL SELECT 0, 0.0
    ), den AS (
      SELECT m.source, ln_.lf - lc1.lf - lnc1.lf AS lden
      FROM m
      JOIN lf ln_  ON ln_.i  = m.n
      JOIN lf lc1  ON lc1.i  = m.c1
      JOIN lf lnc1 ON lnc1.i = m.n - m.c1
    ), terms AS MATERIALIZED (
      SELECT m.source, lf0.i AS k, m.a,
        CAST(ROUND(exp(l1.lf - l2.lf - l3.lf + l4.lf - l5.lf - l6.lf
                       - den.lden), 12) AS DECIMAL(22,12)) AS pmf
      FROM lf lf0, m, den,
           lf l1, lf l2, lf l3, lf l4, lf l5, lf l6
      WHERE den.source = m.source
        AND lf0.i BETWEEN GREATEST(0, m.c1 - m.r2) AND LEAST(m.r1, m.c1)
        AND l1.i = m.r1 AND l2.i = lf0.i AND l3.i = m.r1 - lf0.i
        AND l4.i = m.r2 AND l5.i = m.c1 - lf0.i
        AND l6.i = m.r2 - m.c1 + lf0.i
    ), obs AS (
      SELECT source, pmf AS pobs FROM terms WHERE k = a
    ), agg AS (
      SELECT terms.source,
        CAST(SUM(CASE WHEN CAST(pmf AS DOUBLE)
                           <= CAST(pobs AS DOUBLE) * (1.0 + 1e-7)
                      THEN pmf END) AS DOUBLE) AS p2,
        CAST(SUM(CASE WHEN k <= a THEN pmf END) AS DOUBLE) AS pl,
        CAST(SUM(CASE WHEN k >= a THEN pmf END) AS DOUBLE) AS pg
      FROM terms JOIN obs ON terms.source = obs.source
      GROUP BY terms.source
    )
    SELECT cells.source, a, b, c, d,
      coalesce(ROUND(LEAST(1.0, p2), 6) + 0.0, 1.0) AS p_two6,
      coalesce(ROUND(LEAST(1.0, pl), 6) + 0.0, 1.0) AS p_less6,
      coalesce(ROUND(LEAST(1.0, pg), 6) + 0.0, 1.0) AS p_greater6
    FROM cells LEFT JOIN agg ON cells.source = agg.source
    """,
)
def x_grouped_fisher(spark, sf_dir):
    """Per-source Fisher exact test of the English × long-document 2×2
    (behavioral.py:fisher_exact with ``keys=`` — the grouped
    hypergeometric: one GLOBAL lnfact table shared by every key's
    k-expansion, per-key tail folds)."""
    from pigout_spark.pipeline.behavioral import fisher_exact

    d = t(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull()
        & F.col("lang").isNotNull()
        & F.col("source").isNotNull()
    )
    return fisher_exact(
        d.select(
            "source",
            (F.col("lang") == "en").alias("e_"),
            (F.col("n_chars") > 300).alias("o_"),
        ),
        "e_",
        "o_",
        keys=["source"],
    )


@query(
    "x_anova_f",
    sql="""
    WITH d AS (
      SELECT source, lang AS g, CAST(n_chars AS DOUBLE) AS v
      FROM documents
      WHERE n_chars IS NOT NULL AND lang IS NOT NULL
        AND source IS NOT NULL
    ), pg AS (
      SELECT source, g, CAST(COUNT(*) AS BIGINT) AS ng,
             CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE) AS sv,
             CAST(SUM(CAST(v * v AS DECIMAL(38,6))) AS DOUBLE) AS svv
      FROM d GROUP BY source, g
    ), s AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(ng) AS BIGINT) AS n,
             SUM(sv) AS tv,
             SUM(sv * sv / CAST(ng AS DOUBLE)) AS svn,
             SUM(svv - sv * sv / CAST(ng AS DOUBLE)) AS ssw
      FROM pg GROUP BY source
    )
    SELECT source, k, n,
      CASE WHEN k >= 2 AND n > k AND ssw > 0 THEN
        ROUND((CAST(n AS DOUBLE) - k) / (k - 1.0)
              * (svn - tv * tv / CAST(n AS DOUBLE)) / ssw, 6) + 0.0
      END AS f6
    FROM s
    """,
)
def x_anova_f(spark, sf_dir):
    """Per-source one-way ANOVA F across the langs' n_chars
    distributions (behavioral.py:anova_f with ``keys=`` — the
    parametric omnibus twin of x_grouped_kruskal, same one-exchange
    moment fold)."""
    from pigout_spark.pipeline.behavioral import anova_f

    d = t(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull()
        & F.col("lang").isNotNull()
        & F.col("source").isNotNull()
    )
    return anova_f(
        d.select(
            "source",
            F.col("lang").alias("g"),
            F.col("n_chars").cast("double").alias("v"),
        ),
        "g",
        "v",
        keys=["source"],
    )


@query(
    "x_welch_ttest",
    sql="""
    WITH d AS (
      SELECT source, lang = 'en' AS g, CAST(n_chars AS DOUBLE) AS v
      FROM documents
      WHERE n_chars IS NOT NULL AND lang IS NOT NULL
        AND source IS NOT NULL
    ), pg AS (
      SELECT source, g, CAST(COUNT(*) AS BIGINT) AS ng,
             CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE) AS sv,
             CAST(SUM(CAST(v * v AS DECIMAL(38,6))) AS DOUBLE) AS svv
      FROM d GROUP BY source, g
    ), r AS (
      SELECT *, row_number() OVER (PARTITION BY source ORDER BY g) AS rn
      FROM pg
    ), s AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS k,
             MAX(CASE WHEN rn = 1 THEN g END) AS group_a,
             MAX(CASE WHEN rn = 2 THEN g END) AS group_b,
             MAX(CASE WHEN rn = 1 THEN ng END) AS n_a,
             MAX(CASE WHEN rn = 2 THEN ng END) AS n_b,
             MAX(CASE WHEN rn = 1 THEN sv END) AS sva,
             MAX(CASE WHEN rn = 2 THEN sv END) AS svb,
             MAX(CASE WHEN rn = 1 THEN svv END) AS qa,
             MAX(CASE WHEN rn = 2 THEN svv END) AS qb
      FROM r GROUP BY source
    ), c AS (
      SELECT source, k, group_a, group_b, n_a, n_b,
             sva / CAST(n_a AS DOUBLE) AS ma,
             svb / CAST(n_b AS DOUBLE) AS mb,
             ((qa - sva * sva / CAST(n_a AS DOUBLE))
              / (CAST(n_a AS DOUBLE) - 1.0)) / CAST(n_a AS DOUBLE) AS sa,
             ((qb - svb * svb / CAST(n_b AS DOUBLE))
              / (CAST(n_b AS DOUBLE) - 1.0)) / CAST(n_b AS DOUBLE) AS sb
      FROM s
    )
    SELECT source, group_a, group_b, n_a, n_b,
      CASE WHEN k = 2 AND n_a >= 2 AND n_b >= 2 AND sa + sb > 0 THEN
        ROUND((ma - mb) / sqrt(sa + sb), 6) + 0.0
      END AS t6,
      CASE WHEN k = 2 AND n_a >= 2 AND n_b >= 2 AND sa + sb > 0 THEN
        ROUND((sa + sb) * (sa + sb)
              / (sa * sa / (CAST(n_a AS DOUBLE) - 1.0)
                 + sb * sb / (CAST(n_b AS DOUBLE) - 1.0)), 6) + 0.0
      END AS dof6
    FROM c
    """,
)
def x_welch_ttest(spark, sf_dir):
    """Per-source Welch t between the en and non-en n_chars cohorts
    (behavioral.py:welch_ttest with ``keys=`` — labeled-cohort mean
    comparison; group_a=false (non-en) by the deterministic
    smaller-label-first contract)."""
    from pigout_spark.pipeline.behavioral import welch_ttest

    d = t(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull()
        & F.col("lang").isNotNull()
        & F.col("source").isNotNull()
    )
    return welch_ttest(
        d.select(
            "source",
            (F.col("lang") == "en").alias("g"),
            F.col("n_chars").cast("double").alias("v"),
        ),
        "g",
        "v",
        keys=["source"],
    )


@query(
    "x_power_mde",
    sql="""
    WITH d AS (
      SELECT source, lang = 'en' AS g, CAST(n_chars AS DOUBLE) AS v
      FROM documents
      WHERE n_chars IS NOT NULL AND lang IS NOT NULL
        AND source IS NOT NULL
    ), pg AS (
      SELECT source, g, CAST(COUNT(*) AS BIGINT) AS ng,
             CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE) AS sv,
             CAST(SUM(CAST(v * v AS DECIMAL(38,6))) AS DOUBLE) AS svv
      FROM d GROUP BY source, g
    ), r AS (
      SELECT *, row_number() OVER (PARTITION BY source ORDER BY g) AS rn
      FROM pg
    ), s AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS k,
             MAX(CASE WHEN rn = 1 THEN g END) AS group_a,
             MAX(CASE WHEN rn = 2 THEN g END) AS group_b,
             MAX(CASE WHEN rn = 1 THEN ng END) AS n_a,
             MAX(CASE WHEN rn = 2 THEN ng END) AS n_b,
             MAX(CASE WHEN rn = 1 THEN sv END) AS sva,
             MAX(CASE WHEN rn = 2 THEN sv END) AS svb,
             MAX(CASE WHEN rn = 1 THEN svv END) AS qa,
             MAX(CASE WHEN rn = 2 THEN svv END) AS qb
      FROM r GROUP BY source
    ), c AS (
      SELECT source, k, group_a, group_b, n_a, n_b,
             sva / CAST(n_a AS DOUBLE) AS ma,
             svb / CAST(n_b AS DOUBLE) AS mb,
             (qa - sva * sva / CAST(n_a AS DOUBLE))
               / (CAST(n_a AS DOUBLE) - 1.0) AS va,
             (qb - svb * svb / CAST(n_b AS DOUBLE))
               / (CAST(n_b AS DOUBLE) - 1.0) AS vb
      FROM s
    ), z AS (
      SELECT *, 1.959964 + 0.841621 AS zz,
             sqrt(va / CAST(n_a AS DOUBLE) + vb / CAST(n_b AS DOUBLE)) AS se,
             abs(ma - mb) AS delta
      FROM c
    )
    SELECT source, group_a, group_b, n_a, n_b,
      CASE WHEN k = 2 AND n_a >= 2 AND n_b >= 2 THEN
        ROUND(zz * se, 6) + 0.0 END AS mde6,
      CASE WHEN k = 2 AND n_a >= 2 AND n_b >= 2 AND ma <> 0 THEN
        ROUND(zz * se / abs(ma), 6) + 0.0 END AS mde_rel6,
      CASE WHEN k = 2 AND n_a >= 2 AND n_b >= 2 AND delta > 0 THEN
        CAST(ceil(zz * zz * (va + vb) / (delta * delta)) AS BIGINT)
      END AS n_per_arm
    FROM z
    """,
)
def x_power_mde(spark, sf_dir):
    """A/B experiment sizing per source cohort: minimum detectable
    effect at current n and required per-arm n for the observed
    en-vs-non-en n_chars gap at alpha=0.05 / power=0.80
    (pipeline/behavioral.py:ab_power_mde — welch_ttest's exact decimal
    moment fold, public 6-dp z-table constants, ONE key exchange)."""
    from pigout_spark.pipeline.behavioral import ab_power_mde

    d = t(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull()
        & F.col("lang").isNotNull()
        & F.col("source").isNotNull()
    ).select(
        "source",
        (F.col("lang") == "en").alias("g"),
        F.col("n_chars").cast("double").alias("v"),
    )
    return ab_power_mde(d, "g", "v", alpha=0.05, power=0.80, keys=["source"])


@query(
    "x_two_prop_z",
    sql="""
    WITH d AS (
      SELECT source, n_chars > 300 AS g,
             CAST(lang = 'en' AS INT) AS s
      FROM documents
      WHERE n_chars IS NOT NULL AND lang IS NOT NULL
        AND source IS NOT NULL
    ), pg AS (
      SELECT source, g, CAST(COUNT(*) AS BIGINT) AS ng,
             CAST(SUM(s) AS BIGINT) AS sg
      FROM d GROUP BY source, g
    ), r AS (
      SELECT *, row_number() OVER (PARTITION BY source ORDER BY g) AS rn
      FROM pg
    ), piv AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS k,
             MAX(CASE WHEN rn = 1 THEN g END) AS group_a,
             MAX(CASE WHEN rn = 2 THEN g END) AS group_b,
             MAX(CASE WHEN rn = 1 THEN ng END) AS n_a,
             MAX(CASE WHEN rn = 2 THEN ng END) AS n_b,
             MAX(CASE WHEN rn = 1 THEN sg END) AS s_a,
             MAX(CASE WHEN rn = 2 THEN sg END) AS s_b
      FROM r GROUP BY source
    ), zz AS (
      SELECT source, group_a, group_b, n_a, n_b, s_a, s_b,
        CASE WHEN k = 2 AND n_a >= 1 AND n_b >= 1
                  AND (s_a + CAST(s_b AS DOUBLE)) / (n_a + n_b) > 0.0
                  AND (s_a + CAST(s_b AS DOUBLE)) / (n_a + n_b) < 1.0
        THEN
          ROUND((CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / n_b)
                / sqrt(((s_a + CAST(s_b AS DOUBLE)) / (n_a + n_b))
                       * (1.0 - (s_a + CAST(s_b AS DOUBLE)) / (n_a + n_b))
                       * (1.0 / n_a + 1.0 / n_b)), 6) + 0.0
        END AS z6
      FROM piv
    )
    SELECT source, group_a, group_b, n_a, n_b, s_a, s_b, z6,
      CASE WHEN z6 IS NULL THEN NULL ELSE
        ROUND(LEAST(1.0, 2.0 * (exp(-abs(z6) * abs(z6) / 2.0)
          * 0.3989422804014327
          * ((1.0 / (1.0 + 0.2316419 * abs(z6)))
             * (0.319381530 + (1.0 / (1.0 + 0.2316419 * abs(z6)))
               * (-0.356563782 + (1.0 / (1.0 + 0.2316419 * abs(z6)))
                 * (1.781477937 + (1.0 / (1.0 + 0.2316419 * abs(z6)))
                   * (-1.821255978 + (1.0 / (1.0 + 0.2316419 * abs(z6)))
                     * 1.330274429))))))), 6) + 0.0
      END AS p6
    FROM zz
    """,
)
def x_two_prop_z(spark, sf_dir):
    """Per-source two-proportion pooled z between the long-doc and
    short-doc cohorts' en-rates (behavioral.py:two_prop_ztest with
    ``keys=`` — the large-n companion to x_grouped_fisher over the
    SAME 2×2 margins; group_a=false (short docs) by the deterministic
    smaller-label-first contract)."""
    from pigout_spark.pipeline.behavioral import two_prop_ztest

    d = t(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull()
        & F.col("lang").isNotNull()
        & F.col("source").isNotNull()
    )
    return two_prop_ztest(
        d.select(
            "source",
            (F.col("n_chars") > 300).alias("g"),
            (F.col("lang") == "en").alias("s"),
        ),
        "g",
        "s",
        keys=["source"],
    )


@query(
    "x_theil_sen",
    sql="""
    WITH d AS (
      SELECT o_orderpriority AS rf,
             CAST(date_diff('day', TIMESTAMP '1992-01-01 00:00:00',
                            o_orderdate) AS DOUBLE) AS x,
             CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS DOUBLE) AS y
      FROM orders
      WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
    ), r AS (
      SELECT rf, x, y, row_number() OVER (PARTITION BY rf ORDER BY x, y)
             AS rn
      FROM d
    ), c AS (
      SELECT * FROM r WHERE rn <= 200
    ), base AS (
      SELECT rf, CAST(COUNT(*) AS BIGINT) AS n_points FROM c GROUP BY rf
    ), pr AS (
      SELECT a.rf, (b.y - a.y) / (b.x - a.x) AS s
      FROM c a JOIN c b ON a.rf = b.rf AND a.rn < b.rn AND a.x <> b.x
    ), np AS (
      SELECT rf, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM pr GROUP BY rf
    ), m AS (
      SELECT rf, s, row_number() OVER (PARTITION BY rf ORDER BY s) AS rs,
             COUNT(*) OVER (PARTITION BY rf) AS ns
      FROM pr
    ), med AS (
      SELECT rf, ROUND(MIN(s), 6) + 0.0 AS slope6
      FROM m WHERE rs = (ns + 1) // 2 GROUP BY rf
    )
    SELECT base.rf AS o_orderpriority, base.n_points,
           COALESCE(np.n_pairs, 0) AS n_pairs, med.slope6
    FROM base
    LEFT JOIN np ON base.rf = np.rf
    LEFT JOIN med ON base.rf = med.rf
    """,
)
def x_theil_sen(spark, sf_dir):
    """Per-orderpriority Theil–Sen slope of order total (cents)
    against order day on the first 200 (day, cents) points
    (behavioral.py:theil_sen — robust pairwise-median slope).  The x
    axis is the datediff day used by x_trend_fit: orders land ~1/day
    per priority, so the 200-point cap window spans ~150+ DISTINCT x
    values and the pair stage is real — close to the full 19 900
    pairs per key survive the equal-x exclusion (the r11 lineitem
    fixture was degenerate: all 200 capped points shared x = 1.0 and
    every slope read NULL; r11 ADVICE)."""
    from pigout_spark.pipeline.behavioral import theil_sen

    d = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
        & F.col("o_totalprice").isNotNull()
    )
    return theil_sen(
        d.select(
            "o_orderpriority",
            F.datediff(
                "o_orderdate",
                F.lit("1992-01-01 00:00:00").cast("timestamp_ntz"),
            )
            .cast("double")
            .alias("x"),
            F.round(F.col("o_totalprice") * 100)
            .cast("bigint")
            .cast("double")
            .alias("y"),
        ),
        "x",
        "y",
        keys=["o_orderpriority"],
        max_points_per_key=200,
    )


@query(
    "x_nelson_aalen",
    sql="""
    WITH u AS (
      SELECT user_id,
             date_diff('day',
                       MIN(CAST(date_trunc('second', ts) AS TIMESTAMP)),
                       MAX(CAST(date_trunc('second', ts) AS TIMESTAMP)))
               AS dur,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) = 1
               AS e
      FROM events GROUP BY user_id
    ), per_t AS (
      SELECT dur AS t,
             CAST(SUM(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS leave
      FROM u GROUP BY dur
    ), c AS (
      SELECT t, d,
             SUM(leave) OVER ()
               - coalesce(SUM(leave) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
      FROM per_t
    ), na AS (
      SELECT t, n_risk, d,
             CAST(SUM(CAST(ROUND(d / CAST(n_risk AS DOUBLE), 6) + 0.0
                           AS DECIMAL(20,6)))
               OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS h
      FROM c
    )
    SELECT 'all' AS k, t, CAST(n_risk AS BIGINT) AS n_risk, d,
           ROUND(h, 6) + 0.0 AS haz6
    FROM na WHERE d > 0
    """,
)
def x_nelson_aalen(spark, sf_dir):
    """Nelson–Aalen cumulative churn hazard over user activity spans
    (pipeline/behavioral.py:nelson_aalen) — the additive twin of
    x_kaplan_meier on the SAME duration/censoring framing: risk sets
    exact integers, each d/n term ROUND-6 decimal-summed in time
    order, single 'all' curve as a conscious one-key pass."""
    from pigout_spark.pipeline.behavioral import nelson_aalen

    ev = _events_s(spark, sf_dir)
    u = ev.groupBy("user_id").agg(
        F.datediff(F.max("ts"), F.min("ts")).cast("double").alias("dur"),
        (
            F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            == 1
        ).alias("e"),
    )
    out = nelson_aalen(u.withColumn("k", F.lit("all")), "dur", "e", ["k"])
    return out.select("k", "t", "n_risk", "d", "haz6")


@query(
    "x_mantel_haenszel",
    sql="""
    WITH d AS (
      SELECT source AS s, n_chars > 300 AS e, lang = 'en' AS o
      FROM documents
      WHERE n_chars IS NOT NULL AND lang IS NOT NULL
        AND source IS NOT NULL
    ), per_s AS (
      SELECT s,
        CAST(SUM(CASE WHEN e AND o THEN 1 ELSE 0 END) AS BIGINT) AS a,
        CAST(SUM(CASE WHEN e AND NOT o THEN 1 ELSE 0 END) AS BIGINT) AS b,
        CAST(SUM(CASE WHEN NOT e AND o THEN 1 ELSE 0 END) AS BIGINT) AS c,
        CAST(SUM(CASE WHEN NOT e AND NOT o THEN 1 ELSE 0 END) AS BIGINT)
          AS dd
      FROM d GROUP BY s
    ), agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
        CAST(SUM(a + b + c + dd) AS BIGINT) AS n,
        CAST(SUM(CAST(ROUND(CAST(a * dd AS DOUBLE)
                            / CAST(a + b + c + dd AS DOUBLE), 6) + 0.0
                     AS DECIMAL(20,6))) AS DOUBLE) AS num,
        CAST(SUM(CAST(ROUND(CAST(b * c AS DOUBLE)
                            / CAST(a + b + c + dd AS DOUBLE), 6) + 0.0
                     AS DECIMAL(20,6))) AS DOUBLE) AS den
      FROM per_s
    )
    SELECT n_strata, n,
      CASE WHEN den > 0.0 THEN ROUND(num / den, 6) + 0.0 END AS or_mh6
    FROM agg
    """,
)
def x_mantel_haenszel(spark, sf_dir):
    """Mantel–Haenszel pooled odds ratio of long-doc → en across the
    20 source strata (behavioral.py:mantel_haenszel) — the stratified
    completion of the x_grouped_fisher / x_two_prop_z 2×2 framing:
    does doc length associate with language once source is held
    fixed.  Single readout (keys empty), strata cells exact integers,
    ad/n and bc/n terms ROUND-6 decimal-summed."""
    from pigout_spark.pipeline.behavioral import mantel_haenszel

    d = t(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull()
        & F.col("lang").isNotNull()
        & F.col("source").isNotNull()
    )
    return mantel_haenszel(
        d.select(
            "source",
            (F.col("n_chars") > 300).alias("e"),
            (F.col("lang") == "en").alias("o"),
        ),
        "e",
        "o",
        "source",
    )


def _boot_sql(keys_sql: str, replicates: int = 40, seed: int = 7) -> str:
    """Oracle twin of behavioral.poisson_bootstrap over orders: the
    SAME md5 base, Mersenne universal-hash uniforms, POISSON1_CDF
    literal thresholds, HUGEINT-exact per-replicate sums, ROUND-6
    means, and ⌈0.025B⌉/⌈0.975B⌉ order statistics — generated from the
    identical Python literals the Spark plan embeds."""
    from pigout_spark.pipeline.behavioral import POISSON1_CDF, _boot_params

    P = 2_147_483_647
    params = _boot_params(replicates, seed)

    def w(b):
        a, c = params[b]
        u = (f"(CAST((x * {a} + {c}) % {P} AS DOUBLE) / {float(P)!r})")
        cases = " + ".join(
            f"(CASE WHEN {u} >= {t!r} THEN 1 ELSE 0 END)"
            for t in POISSON1_CDF
        )
        return f"({cases})"

    agg_cols = ",\n        ".join(
        f"SUM(CAST({w(b)} * v AS HUGEINT)) AS sw{b},\n"
        f"        CAST(SUM({w(b)}) AS BIGINT) AS nw{b}"
        for b in range(replicates)
    )
    means = ", ".join(
        f"ROUND(CAST(sw{b} AS DOUBLE) / CAST(nw{b} AS DOUBLE), 6) + 0.0"
        for b in range(replicates)
    )
    minw = "LEAST(" + ", ".join(f"nw{b}" for b in range(replicates)) + ")"
    lo = max(1, -(-replicates * 25 // 1000))
    hi = -(-replicates * 975 // 1000)
    return f"""
    WITH d AS (
      SELECT {keys_sql} AS k,
             CAST(round(o_totalprice * 100) AS BIGINT) AS v,
             ('0x' || substring(md5('{seed}' || '|'
                 || CAST(o_orderkey AS VARCHAR)), 1, 7))::BIGINT AS x
      FROM orders WHERE o_totalprice IS NOT NULL
    ), g AS (
      SELECT k, CAST(COUNT(*) AS BIGINT) AS n,
        SUM(CAST(v AS HUGEINT)) AS s,
        {agg_cols}
      FROM d GROUP BY k
    )
    SELECT k AS o_orderpriority, n,
           ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) + 0.0 AS mean6,
           CASE WHEN {minw} > 0
                THEN list_sort([{means}])[{lo}] END AS boot_lo6,
           CASE WHEN {minw} > 0
                THEN list_sort([{means}])[{hi}] END AS boot_hi6
    FROM g
    """


@query(
    "x_boot_ci",
    sql=_boot_sql("o_orderpriority"),
)
def x_boot_ci(spark, sf_dir):
    """Poisson-bootstrap 95% CI for mean order value (cents) per
    orderpriority (behavioral.py:poisson_bootstrap — the one-pass
    B=40-replicate bootstrap: per-row deterministic Poisson(1)
    pseudo-counts from one md5 base + Mersenne universal hashes, all
    2B+2 aggregates in ONE map-side-combined exchange; Chamandy et
    al. 2012).  Both engines replay identical weights, so the
    percentile interval hash-matches exactly."""
    from pigout_spark.pipeline.behavioral import poisson_bootstrap

    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice").isNotNull())
    return poisson_bootstrap(
        o.select(
            "o_orderpriority",
            F.round(F.col("o_totalprice") * 100)
            .cast("bigint")
            .alias("cents"),
            "o_orderkey",
        ),
        "cents",
        ["o_orderkey"],
        keys=["o_orderpriority"],
    )


@query(
    "x_did",
    sql="""
    WITH d AS (
      SELECT event_type,
             ('0x' || substring(md5('did' || '|'
                 || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0 AS t,
             ts >= TIMESTAMP '2024-01-16 00:00:00' AS p,
             CAST(round(value * 100) AS BIGINT) AS v
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
    ), g AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CASE WHEN t AND p THEN 1 ELSE 0 END) AS BIGINT) AS n_tpost,
        CAST(SUM(CASE WHEN t AND NOT p THEN 1 ELSE 0 END) AS BIGINT) AS n_tpre,
        CAST(SUM(CASE WHEN NOT t AND p THEN 1 ELSE 0 END) AS BIGINT) AS n_cpost,
        CAST(SUM(CASE WHEN NOT t AND NOT p THEN 1 ELSE 0 END) AS BIGINT) AS n_cpre,
        SUM(CASE WHEN t AND p THEN CAST(v AS HUGEINT) ELSE 0 END) AS s_tpost,
        SUM(CASE WHEN t AND NOT p THEN CAST(v AS HUGEINT) ELSE 0 END) AS s_tpre,
        SUM(CASE WHEN NOT t AND p THEN CAST(v AS HUGEINT) ELSE 0 END) AS s_cpost,
        SUM(CASE WHEN NOT t AND NOT p THEN CAST(v AS HUGEINT) ELSE 0 END) AS s_cpre
      FROM d GROUP BY event_type
    )
    SELECT event_type, n, n_tpost, n_tpre, n_cpost, n_cpre,
      CASE WHEN n_tpost > 0 AND n_tpre > 0 AND n_cpost > 0 AND n_cpre > 0
           THEN ROUND(
             (ROUND(CAST(s_tpost AS DOUBLE) / n_tpost, 6) + 0.0
              - (ROUND(CAST(s_tpre AS DOUBLE) / n_tpre, 6) + 0.0))
             - (ROUND(CAST(s_cpost AS DOUBLE) / n_cpost, 6) + 0.0
                - (ROUND(CAST(s_cpre AS DOUBLE) / n_cpre, 6) + 0.0)),
             6) + 0.0 END AS did6
    FROM g
    """,
)
def x_did(spark, sf_dir):
    """2×2 difference-in-differences of event value (cents) per event
    type: md5-deterministic user-half treatment, post = second half of
    January (behavioral.py:diff_in_diff — four DECIMAL-exact cell sums
    in ONE exchange; the observational-causal companion to
    x_ab_lift)."""
    from pigout_spark.pipeline.behavioral import diff_in_diff

    e = t(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    )
    u = F.conv(
        F.substring(
            F.md5(
                F.concat_ws("|", F.lit("did"), F.col("user_id").cast("string"))
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    d = e.select(
        "event_type",
        (u % 2 == 0).alias("t"),
        (
            F.col("ts")
            >= F.lit("2024-01-16 00:00:00").cast("timestamp_ntz")
        ).alias("p"),
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
    )
    return diff_in_diff(d, "t", "p", "v", keys=["event_type"])


@query(
    "x_trimmed_mean",
    sql="""
    WITH d AS (
      SELECT l_returnflag AS k,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS v
      FROM lineitem WHERE l_extendedprice IS NOT NULL
    ), r AS (
      SELECT k, v, row_number() OVER (PARTITION BY k ORDER BY v) AS rn,
             COUNT(*) OVER (PARTITION BY k) AS n
      FROM d
    ), g AS (
      SELECT k, CAST(MAX(n) AS BIGINT) AS n,
        CAST(MAX(CAST(ceil(0.05 * n) AS BIGINT)) AS BIGINT) AS n_trim,
        SUM(CASE WHEN rn > ceil(0.05 * n) AND rn <= n - ceil(0.05 * n)
                 THEN CAST(v AS HUGEINT) ELSE 0 END) AS s,
        CAST(SUM(CASE WHEN rn > ceil(0.05 * n) AND rn <= n - ceil(0.05 * n)
                      THEN 1 ELSE 0 END) AS BIGINT) AS nk
      FROM r GROUP BY k
    )
    SELECT k AS l_returnflag, n, n_trim,
           CASE WHEN nk > 0
                THEN ROUND(CAST(s AS DOUBLE) / nk, 6) + 0.0 END AS tmean6
    FROM g
    """,
)
def x_trimmed_mean(spark, sf_dir):
    """5%-trimmed mean of extendedprice (cents) per returnflag
    (behavioral.py:trimmed_mean — rank-window trim, DECIMAL-exact kept
    sum invariant to tie order, ONE key exchange; the robust-location
    companion to winsorize's capping)."""
    from pigout_spark.pipeline.behavioral import trimmed_mean

    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice").isNotNull()
    )
    return trimmed_mean(
        li.select(
            "l_returnflag",
            F.round(F.col("l_extendedprice") * 100)
            .cast("bigint")
            .alias("cents"),
        ),
        "cents",
        keys=["l_returnflag"],
        trim=0.05,
    )


@query(
    "x_conformal",
    sql="""
    WITH d AS (
      SELECT source AS k, CAST(n_chars AS DOUBLE) AS s
      FROM documents WHERE n_chars IS NOT NULL AND source IS NOT NULL
    ), r AS (
      SELECT k, s, row_number() OVER (PARTITION BY k ORDER BY s) AS rn,
             COUNT(*) OVER (PARTITION BY k) AS n
      FROM d
    )
    SELECT k AS source, CAST(MAX(n) AS BIGINT) AS n,
           ROUND(MIN(CASE WHEN rn = ceil(0.9 * (n + 1)) THEN s END), 6)
             + 0.0 AS qhat6
    FROM r GROUP BY k
    """,
)
def x_conformal(spark, sf_dir):
    """Split-conformal calibration threshold (α = 0.1) of document
    length per source (behavioral.py:conformal_quantile — the
    ⌈(n+1)(1−α)⌉-th order statistic by exact integer-rank selection;
    the distribution-free coverage quantile a serving pipeline
    computes over its held-out scores)."""
    from pigout_spark.pipeline.behavioral import conformal_quantile

    d = t(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull() & F.col("source").isNotNull()
    )
    return conformal_quantile(
        d.select("source", F.col("n_chars").cast("double").alias("s")),
        "s",
        keys=["source"],
        alpha=0.1,
    )


@query(
    "x_psm",
    sql="""
    WITH d AS (
      SELECT source, doc_id AS id, CAST(n_chars AS DOUBLE) AS s,
             lang = 'en' AS t
      FROM documents
      WHERE n_chars IS NOT NULL AND source IS NOT NULL
        AND lang IS NOT NULL AND doc_id IS NOT NULL
    ), tr AS (
      SELECT source, id, s FROM d WHERE t
    ), c AS (
      SELECT source, id AS cid, s AS cs FROM d WHERE NOT t
    ), j AS (
      SELECT tr.source, tr.id, tr.s, c.cid, c.cs, abs(tr.s - c.cs) AS ad
      FROM tr JOIN c USING (source)
      WHERE abs(tr.s - c.cs) <= 50.0
    ), best AS (
      SELECT * FROM j
      QUALIFY row_number() OVER (
        PARTITION BY source, id
        ORDER BY ad,
                 CASE WHEN cs <= s THEN 0 ELSE 1 END,
                 CASE WHEN cs <= s THEN -cid ELSE cid END
      ) = 1
    )
    SELECT tr.source, tr.id, tr.s AS score,
           b.cid AS match_id, b.cs AS match_score,
           CASE WHEN b.cid IS NOT NULL
                THEN ROUND(abs(tr.s - b.cs), 6) + 0.0 END AS dist6
    FROM tr LEFT JOIN best b ON tr.source = b.source AND tr.id = b.id
    """,
)
def x_psm(spark, sf_dir):
    """Propensity-style nearest matching: every English doc matched to
    the closest non-English doc by length within its source, caliper
    50 chars (behavioral.py:psm_match — union-marker two-fill on the
    score axis, ONE key exchange, never all-pairs; the oracle replays
    the naive argmin over the caliper-bounded product as an
    INDEPENDENT algorithm, tie rules aligned: backward side first,
    largest-id below / smallest-id above)."""
    from pigout_spark.pipeline.behavioral import psm_match

    d = t(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull()
        & F.col("source").isNotNull()
        & F.col("lang").isNotNull()
        & F.col("doc_id").isNotNull()
    )
    return psm_match(
        d.select(
            "source",
            (F.col("lang") == "en").alias("t"),
            F.col("n_chars").cast("double").alias("s"),
            F.col("doc_id").alias("did"),
        ),
        "t",
        "s",
        "did",
        keys=["source"],
        caliper=50.0,
    )


def _jk_sql(buckets: int = 32, seed: int = 5) -> str:
    """Oracle twin of behavioral.jackknife_ratio over lineitem: same
    md5 unit-bucketing, HUGEINT-exact sums, ROUND-6 leave-one-out
    ratios, DECIMAL-folded mean and squared deviations, one sqrt."""
    B = buckets
    cells = ",\n        ".join(
        f"SUM(CASE WHEN b = {i} THEN CAST(nu AS HUGEINT) ELSE 0 END) AS sn{i},\n"
        f"        SUM(CASE WHEN b = {i} THEN CAST(de AS HUGEINT) ELSE 0 END) AS sd{i}"
        for i in range(B)
    )
    # Each th{i} is gated on its own bucket's leave-one-out denominator:
    # on a degenerate key (one bucket holds the entire denominator) the
    # raw division yields inf/nan and the downstream DECIMAL cast would
    # abort the whole oracle query, where the Spark operator emits the
    # documented NULL-se6 row.  Gated, the NULL propagates through
    # tsum/tb/dev and se6 degrades to NULL exactly like the operator.
    th = ", ".join(
        f"CASE WHEN (sd - sd{i}) <> 0 THEN "
        f"ROUND(CAST(sn - sn{i} AS DOUBLE) / CAST(sd - sd{i} AS DOUBLE), 6)"
        f" + 0.0 END AS th{i}"
        for i in range(B)
    )
    tsum = " + ".join(f"CAST(th{i} AS DECIMAL(20,6))" for i in range(B))
    # fixed-order double fold (the Spark side's decimal-promotion
    # workaround — see jackknife_ratio): left-assoc `+` over ROUND-12
    # terms is the identical IEEE chain in both engines
    dev = " + ".join(
        f"(ROUND((th{i} - tb) * (th{i} - tb), 12) + 0.0)"
        for i in range(B)
    )
    degen = " OR ".join(f"(sd - sd{i}) = 0" for i in range(B))
    return f"""
    WITH d AS (
      SELECT l_returnflag AS k,
             CAST(round(l_extendedprice * l_discount * 100) AS BIGINT) AS nu,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS de,
             ('0x' || substring(md5('{seed}' || '|'
                 || CAST(l_orderkey AS VARCHAR)), 1, 8))::BIGINT % {B} AS b
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL AND l_discount IS NOT NULL
        AND l_orderkey IS NOT NULL
    ), g AS (
      SELECT k, CAST(COUNT(*) AS BIGINT) AS n,
        SUM(CAST(nu AS HUGEINT)) AS sn, SUM(CAST(de AS HUGEINT)) AS sd,
        {cells}
      FROM d GROUP BY k
    ), t AS (
      SELECT k, n, sn, sd, {degen} AS degen, {th}
      FROM g
    ), m AS (
      SELECT *, CASE WHEN NOT degen THEN
             ROUND(CAST(({tsum}) AS DOUBLE) / {float(B)!r}, 6) + 0.0 END AS tb
      FROM t
    )
    SELECT k AS l_returnflag, n,
           CASE WHEN sd > 0
                THEN ROUND(CAST(sn AS DOUBLE) / CAST(sd AS DOUBLE), 6) + 0.0
           END AS ratio6,
           CASE WHEN NOT degen AND sd > 0
                THEN ROUND(sqrt({(buckets - 1) / buckets!r}
                     * ({dev})), 6) + 0.0
           END AS se6
    FROM m
    """


@query(
    "x_jackknife",
    sql=_jk_sql(),
)
def x_jackknife(spark, sf_dir):
    """Order-blocked jackknife SE of the effective discount RATE
    (Σ discount-cents / Σ price-cents) per returnflag
    (behavioral.py:jackknife_ratio — the ratio-metric uncertainty
    poisson_bootstrap's per-row weights understate: units = orders
    hashed into 32 md5 buckets, 2B+2 DECIMAL-exact sums in ONE
    exchange, leave-one-bucket ratios ROUND-6, Quenouille/Tukey
    variance)."""
    from pigout_spark.pipeline.behavioral import jackknife_ratio

    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice").isNotNull()
        & F.col("l_discount").isNotNull()
        & F.col("l_orderkey").isNotNull()
    )
    return jackknife_ratio(
        li.select(
            "l_returnflag",
            F.round(F.col("l_extendedprice") * F.col("l_discount") * 100)
            .cast("bigint")
            .alias("nu"),
            F.round(F.col("l_extendedprice") * 100)
            .cast("bigint")
            .alias("de"),
            "l_orderkey",
        ),
        "nu",
        "de",
        ["l_orderkey"],
        keys=["l_returnflag"],
    )


def _eb_sql(delta: float = 0.05, value_range: float = 1_000_000.0) -> str:
    """Oracle twin of behavioral.emp_bernstein_ci over events: the
    SAME Python-computed ln(2/δ) literal, HUGEINT-exact moments,
    correctly-rounded sqrt, shared IEEE readout chain."""
    import math

    ln_term = math.log(2.0 / delta)
    c2 = 7.0 * value_range * ln_term / 3.0
    return f"""
    WITH d AS (
      SELECT event_type AS k, CAST(round(value * 100) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
    ), g AS (
      SELECT k, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(v AS HUGEINT)) AS s,
             SUM(CAST(v * v AS HUGEINT)) AS ss
      FROM d GROUP BY k
    )
    SELECT k AS event_type, n,
      ROUND(CAST(s AS DOUBLE) / n, 6) + 0.0 AS mean6,
      CASE WHEN n > 1 THEN
        ROUND(CAST(s AS DOUBLE) / n
              - (sqrt(2.0 * GREATEST(
                    (n * CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)), 0.0)
                    * {ln_term!r} / n)
                 + {c2!r} / (CAST(n AS DOUBLE) - 1.0)), 6) + 0.0
      END AS eb_lo6,
      CASE WHEN n > 1 THEN
        ROUND(CAST(s AS DOUBLE) / n
              + (sqrt(2.0 * GREATEST(
                    (n * CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)), 0.0)
                    * {ln_term!r} / n)
                 + {c2!r} / (CAST(n AS DOUBLE) - 1.0)), 6) + 0.0
      END AS eb_hi6
    FROM g
    """


@query(
    "x_eb_ci",
    sql=_eb_sql(),
)
def x_eb_ci(spark, sf_dir):
    """Empirical-Bernstein 95% bound on mean event value (cents,
    R = 1,000,000 — ~18x headroom over the fixture max ~56k cents, so
    the operator's range assertion cannot abort at a larger scale
    factor; widening R only loosens the interval linearly via the
    7R·ln(2/d)/3(n-1) term) per event type (behavioral.py:emp_bernstein_ci —
    variance-adaptive finite-sample CI, ln(2/δ) a Python literal so
    NO engine transcendental runs; one moment exchange, no
    replicates; the anytime-honest companion to x_boot_ci)."""
    from pigout_spark.pipeline.behavioral import emp_bernstein_ci

    e = t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    return emp_bernstein_ci(
        e.select(
            "event_type",
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        ),
        "cents",
        keys=["event_type"],
        delta=0.05,
        value_range=1_000_000.0,
    )


_CA_P = """ROUND(LEAST(1.0, 2.0 * (exp(-abs(z6) * abs(z6) / 2.0)
          * 0.3989422804014327
          * ((1.0 / (1.0 + 0.2316419 * abs(z6)))
             * (0.319381530 + (1.0 / (1.0 + 0.2316419 * abs(z6)))
               * (-0.356563782 + (1.0 / (1.0 + 0.2316419 * abs(z6)))
                 * (1.781477937 + (1.0 / (1.0 + 0.2316419 * abs(z6)))
                   * (-1.821255978 + (1.0 / (1.0 + 0.2316419 * abs(z6)))
                     * 1.330274429))))))), 6) + 0.0"""


@query(
    "x_cochran",
    sql=f"""
    WITH d AS (
      SELECT o_orderstatus AS k,
             CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS s,
             CASE WHEN round(o_totalprice * 100) > 15000000
                  THEN 1 ELSE 0 END AS r
      FROM orders
      WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL
        AND o_orderstatus IS NOT NULL
    ), g AS (
      SELECT k, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(r AS HUGEINT)) AS R,
             SUM(CAST(s AS HUGEINT)) AS sn,
             SUM(CAST(s * s AS HUGEINT)) AS ssn,
             SUM(CAST(s * r AS HUGEINT)) AS sr
      FROM d GROUP BY k
    ), zz AS (
      SELECT k, n, CAST(R AS BIGINT) AS n_succ,
        CASE WHEN (CAST(R AS DOUBLE) / n) * (1.0 - CAST(R AS DOUBLE) / n)
                  * (CAST(ssn AS DOUBLE)
                     - CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE) / n) > 0
             THEN ROUND(
               (CAST(sr AS DOUBLE)
                - CAST(sn AS DOUBLE) * (CAST(R AS DOUBLE) / n))
               / sqrt((CAST(R AS DOUBLE) / n)
                      * (1.0 - CAST(R AS DOUBLE) / n)
                      * (CAST(ssn AS DOUBLE)
                         - CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE) / n)),
               6) + 0.0 END AS z6
      FROM g
    )
    SELECT k AS o_orderstatus, n, n_succ, z6,
           CASE WHEN z6 IS NOT NULL THEN {_CA_P} END AS p6
    FROM zz
    """,
)
def x_cochran(spark, sf_dir):
    """Cochran–Armitage trend of high-value-order rate across the
    ordered priority tiers (dose = the priority digit 1..5), per
    order status (behavioral.py:cochran_armitage — five exact integer
    moments in ONE exchange, shared IEEE z chain, Abramowitz–Stegun p;
    the trend-powered alternative to the unordered chi-square)."""
    from pigout_spark.pipeline.behavioral import cochran_armitage

    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isNotNull()
        & F.col("o_totalprice").isNotNull()
        & F.col("o_orderstatus").isNotNull()
    )
    return cochran_armitage(
        o.select(
            "o_orderstatus",
            F.substring("o_orderpriority", 1, 1).cast("bigint").alias("s"),
            (F.round(F.col("o_totalprice") * 100) > 15_000_000).alias("hi"),
        ),
        "s",
        "hi",
        keys=["o_orderstatus"],
    )


@query(
    "x_by_fdr",
    sql="""
    WITH p AS (
      SELECT source,
             ROUND((('0x' || substring(md5('byp|' || source), 1, 8))::BIGINT)
                   / 4294967296.0, 6) + 0.0 AS p6
      FROM (SELECT DISTINCT source FROM documents
            WHERE source IS NOT NULL)
    ), ranked AS (
      SELECT source, p6, CAST(COUNT(*) OVER () AS BIGINT) AS m,
             row_number() OVER (ORDER BY p6 DESC, source DESC) AS rkd
      FROM p
    ), cm AS (
      SELECT *, CAST(SUM(CAST(ROUND(1.0 / rkd, 12) + 0.0
                              AS DECIMAL(30,12))) OVER () AS DOUBLE) AS c
      FROM ranked
    )
    SELECT source, p6, m,
      ROUND(LEAST(1.0, MIN(p6 * m / (m - rkd + 1) * c)
            OVER (ORDER BY p6 DESC, source DESC
                  ROWS UNBOUNDED PRECEDING)), 6) + 0.0 AS q6,
      ROUND(LEAST(1.0, MIN(p6 * m / (m - rkd + 1) * c)
            OVER (ORDER BY p6 DESC, source DESC
                  ROWS UNBOUNDED PRECEDING)), 6) + 0.0 <= 0.05 AS reject
    FROM cm
    """,
)
def x_by_fdr(spark, sf_dir):
    """Benjamini–Yekutieli adjustment over a deterministic per-source
    p-value fixture (md5-uniform — both engines share the identical
    inputs, so the ADJUSTMENT math is what the hash checks:
    behavioral.py:by_fdr — harmonic c(m) from the family's own rank
    column as a decimal window aggregate, ((p·m)/j)·c suffix-min; the
    arbitrary-dependence-safe sibling of x_bh_fdr)."""
    from pigout_spark.pipeline.behavioral import by_fdr

    src = (
        t(spark, sf_dir, "documents")
        .filter(F.col("source").isNotNull())
        .select("source")
        .distinct()
    )
    u = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", F.lit("byp"), F.col("source"))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    withp = src.select(
        "source",
        (F.round(u / F.lit(4294967296.0), 6) + F.lit(0.0)).alias("p6"),
    )
    return by_fdr(withp, "p6")


@query(
    "x_msprt",
    """
    WITH d AS (
      SELECT event_type AS k,
             CAST(floor(event_id / 200) AS BIGINT) AS t,
             (user_id % 2) = 0 AS tr,
             CAST(round(value * 100) AS BIGINT) AS v
      FROM events
      WHERE event_id IS NOT NULL AND user_id IS NOT NULL
        AND value IS NOT NULL AND event_type IS NOT NULL
    ), per AS (
      SELECT k, t,
        SUM(CASE WHEN tr THEN 1 ELSE 0 END)::HUGEINT AS nt,
        SUM(CASE WHEN tr THEN CAST(v AS HUGEINT) ELSE 0 END) AS st,
        SUM(CASE WHEN tr THEN CAST(v * v AS HUGEINT) ELSE 0 END) AS sst,
        SUM(CASE WHEN NOT tr THEN 1 ELSE 0 END)::HUGEINT AS nc,
        SUM(CASE WHEN NOT tr THEN CAST(v AS HUGEINT) ELSE 0 END) AS sc,
        SUM(CASE WHEN NOT tr THEN CAST(v * v AS HUGEINT) ELSE 0 END) AS ssc
      FROM d GROUP BY k, t
    ), c AS (
      SELECT k, t,
        SUM(nt) OVER w AS cnt, SUM(st) OVER w AS cst,
        SUM(sst) OVER w AS csst,
        SUM(nc) OVER w AS cnc, SUM(sc) OVER w AS csc,
        SUM(ssc) OVER w AS cssc
      FROM per
      WINDOW w AS (PARTITION BY k ORDER BY t ROWS UNBOUNDED PRECEDING)
    ), r AS (
      SELECT k, t,
        CAST(cnt AS BIGINT) AS n_t, CAST(cnc AS BIGINT) AS n_c,
        CAST(cnt AS DOUBLE) AS dnt, CAST(cnc AS DOUBLE) AS dnc,
        CAST(cst AS DOUBLE) AS dst, CAST(csc AS DOUBLE) AS dsc,
        CAST(csst AS DOUBLE) AS dsst, CAST(cssc AS DOUBLE) AS dssc
      FROM c
    ), s AS (
      SELECT k, t, n_t, n_c,
        (dnt + dnc - 2.0) AS dof,
        (dst / dnt - dsc / dnc) AS delta,
        (dsst - dst * dst / dnt + dssc - dsc * dsc / dnc)
          / (dnt + dnc - 2.0)
          * (1.0 / dnt + 1.0 / dnc) AS vn
      FROM r
    ), l AS (
      SELECT k, t, n_t, n_c,
        (n_t > 0 AND n_c > 0 AND dof >= 1.0) AS ok, delta,
        CASE WHEN (n_t > 0 AND n_c > 0 AND dof >= 1.0) AND vn > 0 THEN
          ROUND(0.5 * ln(vn / (vn + 250000.0))
                + 250000.0 * delta * delta
                  / (2.0 * vn * (vn + 250000.0)), 6) + 0.0
        END AS loglam6
      FROM s
    ), i AS (
      SELECT k, t, n_t, n_c,
        CASE WHEN ok THEN ROUND(delta, 6) + 0.0 END AS delta6,
        loglam6,
        MAX(loglam6) OVER (PARTITION BY k ORDER BY t
                           ROWS UNBOUNDED PRECEDING) AS run
      FROM l
    )
    SELECT k AS event_type, t, n_t, n_c, delta6, loglam6,
           CASE WHEN run IS NOT NULL THEN
             ROUND(exp(-GREATEST(run, 0.0)), 6) + 0.0
           END AS p_av6
    FROM i
    """,
)
def x_msprt(spark, sf_dir):
    """Always-valid sequential A/B p-value (mSPRT, τ² = 250,000 cents²
    — a $5 prior effect scale) on the user-parity split of event value
    per event type, inspected every 200-event-id period
    (behavioral.py:msprt — per-period exact-integer cells, cumulative
    keyed windows over the PERIOD relation; reports ln Λ, ROUND-6
    BEFORE the running max, and p = exp(−max(·,0)) of the rounded max
    so the unbounded likelihood ratio never meets a cross-engine exp
    ulp at 1e8 magnitude — the sf3-found fix; the peeking-safe
    companion to x_ab_lift/x_cuped)."""
    from pigout_spark.pipeline.behavioral import msprt

    e = t(spark, sf_dir, "events").filter(
        F.col("event_id").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
        & F.col("event_type").isNotNull()
    )
    return msprt(
        e.select(
            "event_type",
            F.floor(F.col("event_id") / 200).cast("bigint").alias("period"),
            ((F.col("user_id") % 2) == 0).alias("arm"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        ),
        "period",
        "arm",
        "cents",
        tau2=250_000.0,
        keys=["event_type"],
    )


@query(
    "x_mann_kendall",
    sql="""
    WITH d AS (
      SELECT o_orderpriority AS rf,
             CAST(date_diff('day', TIMESTAMP '1992-01-01 00:00:00',
                            o_orderdate) AS DOUBLE) AS x,
             CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS DOUBLE) AS y
      FROM orders
      WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
    ), r AS (
      SELECT rf, x, y, row_number() OVER (PARTITION BY rf ORDER BY x, y)
             AS rn
      FROM d
    ), c AS (
      SELECT * FROM r WHERE rn <= 200
    ), base AS (
      SELECT rf, CAST(COUNT(*) AS BIGINT) AS n_points FROM c GROUP BY rf
    ), s AS (
      SELECT a.rf,
             CAST(SUM(CASE WHEN b.y > a.y THEN 1
                           WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT)
               AS s_stat
      FROM c a JOIN c b ON a.rf = b.rf AND a.rn < b.rn
      GROUP BY a.rf
    ), tv AS (
      SELECT rf, y, CAST(COUNT(*) AS BIGINT) AS t FROM c GROUP BY rf, y
    ), ties AS (
      SELECT rf, CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
      FROM tv GROUP BY rf
    ), j AS (
      SELECT base.rf, base.n_points,
             COALESCE(s.s_stat, 0) AS s_stat,
             CAST(base.n_points * (base.n_points - 1)
                  * (2 * base.n_points + 5) - ties.tie_term AS BIGINT)
               AS var_num
      FROM base
      JOIN ties ON base.rf = ties.rf
      LEFT JOIN s ON base.rf = s.rf
    ), z AS (
      SELECT rf, n_points, s_stat, var_num,
        CASE WHEN n_points >= 2 AND var_num > 0 THEN
          ROUND(CASE WHEN s_stat > 0
                       THEN (s_stat - 1.0)
                            / sqrt(CAST(var_num AS DOUBLE) / 18.0)
                     WHEN s_stat < 0
                       THEN (s_stat + 1.0)
                            / sqrt(CAST(var_num AS DOUBLE) / 18.0)
                     ELSE 0.0 END, 6) + 0.0
        END AS z6
      FROM j
    )
    SELECT rf AS o_orderpriority, n_points, s_stat, var_num, z6,
      CASE WHEN z6 IS NOT NULL THEN
        ROUND(LEAST(1.0, 2.0 * (exp(-abs(z6) * abs(z6) / 2.0)
          * 0.3989422804014327
          * ((1.0 / (1.0 + 0.2316419 * abs(z6)))
             * (0.319381530 + (1.0 / (1.0 + 0.2316419 * abs(z6)))
               * (-0.356563782 + (1.0 / (1.0 + 0.2316419 * abs(z6)))
                 * (1.781477937 + (1.0 / (1.0 + 0.2316419 * abs(z6)))
                   * (-1.821255978 + (1.0 / (1.0 + 0.2316419 * abs(z6)))
                     * 1.330274429))))))), 6) + 0.0
      END AS p6
    FROM z
    """,
)
def x_mann_kendall(spark, sf_dir):
    """Mann–Kendall trend test per orderpriority on the IDENTICAL
    capped (day, cents) sequence x_theil_sen measures
    (behavioral.py:mann_kendall) — theil_sen reads the slope,
    mann_kendall reads its significance: S and the tie-corrected
    variance numerator fold IN-TASK over the sorted point array
    (no pair explode), z continuity-corrected ROUND-6, p via the
    Abramowitz–Stegun 26.2.17 twin both engines replay
    token-for-token."""
    from pigout_spark.pipeline.behavioral import mann_kendall

    d = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
        & F.col("o_totalprice").isNotNull()
    )
    return mann_kendall(
        d.select(
            "o_orderpriority",
            F.datediff(
                "o_orderdate",
                F.lit("1992-01-01 00:00:00").cast("timestamp_ntz"),
            )
            .cast("double")
            .alias("x"),
            F.round(F.col("o_totalprice") * 100)
            .cast("bigint")
            .cast("double")
            .alias("y"),
        ),
        "x",
        "y",
        keys=["o_orderpriority"],
        max_points_per_key=200,
    )


@query(
    "x_cox_ph",
    """
    WITH u AS (
      SELECT user_id % 2 AS g,
             date_diff('day',
                       MIN(CAST(date_trunc('second', ts) AS TIMESTAMP)),
                       MAX(CAST(date_trunc('second', ts) AS TIMESTAMP)))
               AS dur,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) = 1
               AS e
      FROM events GROUP BY user_id
    ), per AS (
      SELECT dur AS t, g,
             CAST(SUM(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS leave
      FROM u GROUP BY dur, g
    ), byt AS (
      SELECT t, SUM(d) AS d_all, SUM(leave) AS l_all,
             SUM(CASE WHEN g = 0 THEN d ELSE 0 END) AS d1,
             SUM(CASE WHEN g = 0 THEN leave ELSE 0 END) AS l1
      FROM per GROUP BY t
    ), c AS (
      SELECT t, d_all, d1,
             SUM(l_all) OVER ()
               - coalesce(SUM(l_all) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_all,
             SUM(l1) OVER ()
               - coalesce(SUM(l1) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n1,
             l_all
      FROM byt
    ), pt AS (
      SELECT t, d_all, d1, n1, n_all - n1 AS n0 FROM c WHERE d_all > 0
    ), tot AS (
      SELECT CAST(SUM(l_all) AS BIGINT) AS n,
             CAST(COALESCE(SUM(d_all), 0) AS BIGINT) AS n_events
      FROM byt
    ), s0 AS (SELECT 0.0 AS b)
    , s1 AS (
      SELECT CASE WHEN i_ > 0 AND abs(b_ + u_ / i_) <= 30
                  THEN ROUND(b_ + u_ / i_, 6) + 0.0 END AS b
      FROM (
        SELECT s0.b AS b_,
          CAST(SUM(CAST(ROUND(CAST(d1 AS DOUBLE)
            - CAST(d_all AS DOUBLE)
              * ((CAST(n1 AS DOUBLE) * exp(s0.b))
                 / (CAST(n1 AS DOUBLE) * exp(s0.b)
                    + CAST(n0 AS DOUBLE))), 6) + 0.0
            AS DECIMAL(20,6))) AS DOUBLE) AS u_,
          CAST(SUM(CAST(ROUND(CAST(d_all AS DOUBLE)
            * ((CAST(n1 AS DOUBLE) * exp(s0.b))
               / (CAST(n1 AS DOUBLE) * exp(s0.b)
                  + CAST(n0 AS DOUBLE)))
            * (1.0 - ((CAST(n1 AS DOUBLE) * exp(s0.b))
               / (CAST(n1 AS DOUBLE) * exp(s0.b)
                  + CAST(n0 AS DOUBLE)))), 6) + 0.0
            AS DECIMAL(20,6))) AS DOUBLE) AS i_
        FROM pt, s0 GROUP BY s0.b
      )
    )
    , s2 AS (
      SELECT CASE WHEN i_ > 0 AND abs(b_ + u_ / i_) <= 30
                  THEN ROUND(b_ + u_ / i_, 6) + 0.0 END AS b
      FROM (
        SELECT s1.b AS b_,
          CAST(SUM(CAST(ROUND(CAST(d1 AS DOUBLE)
            - CAST(d_all AS DOUBLE)
              * ((CAST(n1 AS DOUBLE) * exp(s1.b))
                 / (CAST(n1 AS DOUBLE) * exp(s1.b)
                    + CAST(n0 AS DOUBLE))), 6) + 0.0
            AS DECIMAL(20,6))) AS DOUBLE) AS u_,
          CAST(SUM(CAST(ROUND(CAST(d_all AS DOUBLE)
            * ((CAST(n1 AS DOUBLE) * exp(s1.b))
               / (CAST(n1 AS DOUBLE) * exp(s1.b)
                  + CAST(n0 AS DOUBLE)))
            * (1.0 - ((CAST(n1 AS DOUBLE) * exp(s1.b))
               / (CAST(n1 AS DOUBLE) * exp(s1.b)
                  + CAST(n0 AS DOUBLE)))), 6) + 0.0
            AS DECIMAL(20,6))) AS DOUBLE) AS i_
        FROM pt, s1 GROUP BY s1.b
      )
    )
    , s3 AS (
      SELECT CASE WHEN i_ > 0 AND abs(b_ + u_ / i_) <= 30
                  THEN ROUND(b_ + u_ / i_, 6) + 0.0 END AS b
      FROM (
        SELECT s2.b AS b_,
          CAST(SUM(CAST(ROUND(CAST(d1 AS DOUBLE)
            - CAST(d_all AS DOUBLE)
              * ((CAST(n1 AS DOUBLE) * exp(s2.b))
                 / (CAST(n1 AS DOUBLE) * exp(s2.b)
                    + CAST(n0 AS DOUBLE))), 6) + 0.0
            AS DECIMAL(20,6))) AS DOUBLE) AS u_,
          CAST(SUM(CAST(ROUND(CAST(d_all AS DOUBLE)
            * ((CAST(n1 AS DOUBLE) * exp(s2.b))
               / (CAST(n1 AS DOUBLE) * exp(s2.b)
                  + CAST(n0 AS DOUBLE)))
            * (1.0 - ((CAST(n1 AS DOUBLE) * exp(s2.b))
               / (CAST(n1 AS DOUBLE) * exp(s2.b)
                  + CAST(n0 AS DOUBLE)))), 6) + 0.0
            AS DECIMAL(20,6))) AS DOUBLE) AS i_
        FROM pt, s2 GROUP BY s2.b
      )
    )
    , s4 AS (
      SELECT CASE WHEN i_ > 0 AND abs(b_ + u_ / i_) <= 30
                  THEN ROUND(b_ + u_ / i_, 6) + 0.0 END AS b
      FROM (
        SELECT s3.b AS b_,
          CAST(SUM(CAST(ROUND(CAST(d1 AS DOUBLE)
            - CAST(d_all AS DOUBLE)
              * ((CAST(n1 AS DOUBLE) * exp(s3.b))
                 / (CAST(n1 AS DOUBLE) * exp(s3.b)
                    + CAST(n0 AS DOUBLE))), 6) + 0.0
            AS DECIMAL(20,6))) AS DOUBLE) AS u_,
          CAST(SUM(CAST(ROUND(CAST(d_all AS DOUBLE)
            * ((CAST(n1 AS DOUBLE) * exp(s3.b))
               / (CAST(n1 AS DOUBLE) * exp(s3.b)
                  + CAST(n0 AS DOUBLE)))
            * (1.0 - ((CAST(n1 AS DOUBLE) * exp(s3.b))
               / (CAST(n1 AS DOUBLE) * exp(s3.b)
                  + CAST(n0 AS DOUBLE)))), 6) + 0.0
            AS DECIMAL(20,6))) AS DOUBLE) AS i_
        FROM pt, s3 GROUP BY s3.b
      )
    )
    , fin AS (
      SELECT s4.b AS b,
        CAST(SUM(CAST(ROUND(CAST(d_all AS DOUBLE)
          * ((CAST(n1 AS DOUBLE) * exp(s4.b))
             / (CAST(n1 AS DOUBLE) * exp(s4.b) + CAST(n0 AS DOUBLE)))
          * (1.0 - ((CAST(n1 AS DOUBLE) * exp(s4.b))
             / (CAST(n1 AS DOUBLE) * exp(s4.b)
                + CAST(n0 AS DOUBLE)))), 6) + 0.0
          AS DECIMAL(20,6))) AS DOUBLE) AS i_
      FROM pt, s4 GROUP BY s4.b
    ), res AS (
      SELECT tot.n, tot.n_events,
        CASE WHEN fin.b IS NOT NULL AND fin.i_ > 0 THEN fin.b END
          AS beta6,
        CASE WHEN fin.b IS NOT NULL AND fin.i_ > 0
             THEN ROUND(exp(fin.b), 6) + 0.0 END AS hr6,
        CASE WHEN fin.b IS NOT NULL AND fin.i_ > 0
             THEN ROUND(1.0 / sqrt(fin.i_), 6) + 0.0 END AS se6,
        CASE WHEN fin.b IS NOT NULL AND fin.i_ > 0
             THEN ROUND(fin.b * sqrt(fin.i_), 6) + 0.0 END AS z6
      FROM tot, fin
    )
    SELECT n, n_events, beta6, hr6, se6, z6,
      CASE WHEN z6 IS NOT NULL THEN
        ROUND(LEAST(1.0, 2.0 * (exp(-abs(z6) * abs(z6) / 2.0)
          * 0.3989422804014327
          * ((1.0 / (1.0 + 0.2316419 * abs(z6)))
             * (0.319381530 + (1.0 / (1.0 + 0.2316419 * abs(z6)))
               * (-0.356563782 + (1.0 / (1.0 + 0.2316419 * abs(z6)))
                 * (1.781477937 + (1.0 / (1.0 + 0.2316419 * abs(z6)))
                   * (-1.821255978 + (1.0 / (1.0 + 0.2316419 * abs(z6)))
                     * 1.330274429))))))), 6) + 0.0
      END AS p6
    FROM res
""",
)
def x_cox_ph(spark, sf_dir):
    """Cox proportional-hazards log hazard ratio between even/odd
    user cohorts' time-to-churn (behavioral.py:cox_ph_binary) — the
    effect-size companion to x_logrank on the IDENTICAL risk-table
    framing: Breslow-ties partial likelihood, FOUR quantized Newton
    steps from beta=0 (each step's per-time score/information terms
    ROUND-6 decimal-summed, beta re-ROUND-6'd), Wald SE/z/p at the
    fitted beta.  The oracle unrolls the same four steps in SQL, so
    both engines replay the identical quantized chain."""
    from pigout_spark.pipeline.behavioral import cox_ph_binary

    ev = _events_s(spark, sf_dir)
    u = ev.groupBy("user_id").agg(
        F.datediff(F.max("ts"), F.min("ts")).cast("double").alias("dur"),
        (
            F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            == 1
        ).alias("e"),
    ).withColumn("g", F.col("user_id") % 2)
    return cox_ph_binary(u, "dur", "e", "g")


@query(
    "x_logrank_strat",
    """
    WITH u AS (
      SELECT user_id % 2 AS g, user_id % 5 AS s,
             date_diff('day',
                       MIN(CAST(date_trunc('second', ts) AS TIMESTAMP)),
                       MAX(CAST(date_trunc('second', ts) AS TIMESTAMP)))
               AS dur,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) = 1
               AS e
      FROM events GROUP BY user_id
    ), per AS (
      SELECT s, dur AS t, g,
             CAST(SUM(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS leave
      FROM u GROUP BY s, dur, g
    ), byt AS (
      SELECT s, t, SUM(d) AS d_all, SUM(leave) AS l_all,
             SUM(CASE WHEN g = 0 THEN d ELSE 0 END) AS d1,
             SUM(CASE WHEN g = 0 THEN leave ELSE 0 END) AS l1
      FROM per GROUP BY s, t
    ), c AS (
      SELECT s, t, d_all, d1, l_all,
             SUM(l_all) OVER (PARTITION BY s)
               - coalesce(SUM(l_all) OVER (PARTITION BY s ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_all,
             SUM(l1) OVER (PARTITION BY s)
               - coalesce(SUM(l1) OVER (PARTITION BY s ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n1
      FROM byt
    )
    SELECT CAST(COALESCE(SUM(l_all), 0) AS BIGINT) AS n,
           CAST(COALESCE(SUM(d_all), 0) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT s) AS BIGINT) AS n_strata,
           CAST(SUM(CAST(ROUND(d1 - CAST(n1 AS DOUBLE) * d_all / n_all, 6)
                         + 0.0 AS DECIMAL(20,6))) AS DOUBLE)
             AS o_minus_e6,
           CAST(SUM(CASE WHEN n_all > 1 THEN
                 CAST(ROUND(CAST(d_all AS DOUBLE)
                      * (CAST(n1 AS DOUBLE) / n_all)
                      * (1 - CAST(n1 AS DOUBLE) / n_all)
                      * (n_all - CAST(d_all AS DOUBLE)) / (n_all - 1), 6)
                      + 0.0 AS DECIMAL(20,6))
                 ELSE CAST(0 AS DECIMAL(20,6)) END) AS DOUBLE) AS var6,
           CASE WHEN CAST(SUM(CASE WHEN n_all > 1 THEN
                 CAST(ROUND(CAST(d_all AS DOUBLE)
                      * (CAST(n1 AS DOUBLE) / n_all)
                      * (1 - CAST(n1 AS DOUBLE) / n_all)
                      * (n_all - CAST(d_all AS DOUBLE)) / (n_all - 1), 6)
                      + 0.0 AS DECIMAL(20,6))
                 ELSE CAST(0 AS DECIMAL(20,6)) END) AS DOUBLE) > 0
                THEN ROUND(
                  CAST(SUM(CAST(ROUND(d1 - CAST(n1 AS DOUBLE) * d_all
                                      / n_all, 6)
                                + 0.0 AS DECIMAL(20,6))) AS DOUBLE)
                  / sqrt(CAST(SUM(CASE WHEN n_all > 1 THEN
                      CAST(ROUND(CAST(d_all AS DOUBLE)
                           * (CAST(n1 AS DOUBLE) / n_all)
                           * (1 - CAST(n1 AS DOUBLE) / n_all)
                           * (n_all - CAST(d_all AS DOUBLE))
                           / (n_all - 1), 6)
                           + 0.0 AS DECIMAL(20,6))
                      ELSE CAST(0 AS DECIMAL(20,6)) END) AS DOUBLE)),
                  6) END AS z6
    FROM c
    """,
)
def x_logrank_strat(spark, sf_dir):
    """Stratified (Mantel-Cox) log-rank between even/odd user cohorts
    with user_id%5 strata (behavioral.py:logrank_test_stratified) —
    risk sets formed WITHIN each stratum, per-(stratum,time) O-E and
    variance terms ROUND-6 decimal-summed in per-stratum in-task
    folds, pooled by an EXACT decimal sum (associativity makes the
    oracle's single global decimal sum the same number), one final
    IEEE divide."""
    from pigout_spark.pipeline.behavioral import logrank_test_stratified

    ev = _events_s(spark, sf_dir)
    u = ev.groupBy("user_id").agg(
        F.datediff(F.max("ts"), F.min("ts")).cast("double").alias("dur"),
        (
            F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            == 1
        ).alias("e"),
    ).withColumn("g", F.col("user_id") % 2).withColumn(
        "s", F.col("user_id") % 5
    )
    return logrank_test_stratified(u, "dur", "e", "g", "s")
