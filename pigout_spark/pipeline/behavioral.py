"""Behavioral / event analytics over batch event logs: gap-based
sessionization, ordered funnels (with conversion windows), cohort
retention, value histograms, session path analysis, and gap/outage
detection.

These are the batch twins of the streaming session machinery
(streaming/windows.py:session_agg): product-analytics primitives every
event warehouse query surface carries (upstream Apache Pig users build
them by hand from GROUP + nested FOREACH; engines like Snowplow/
Amplitude-style SQL express them with window functions).  All are
pure window/aggregate compositions — no UDFs, fully
whole-stage-codegen, and each shuffles exactly once on the entity key
(the window partition) plus at most one aggregation shuffle, so they
scale linearly with the event log.

Determinism contract (oracle-hash discipline): session and funnel
assignment is invariant to the ordering of timestamp ties — tied rows
have gap 0 (never a boundary) and funnel chaining compares against a
per-partition scalar — so Spark and DuckDB agree row-for-row without
a tiebreak column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pigout_spark.pipeline.iterate import checkpoint


def cap_events_per_key(
    df: DataFrame,
    ts_col: str = "ts",
    key: str = "user_id",
    max_events_per_key: int | None = None,
    tiebreak: str | None = None,
) -> DataFrame:
    """Skew guard: keep only the FIRST ``max_events_per_key`` events of
    each key (by ``ts_col``, then ``tiebreak`` if given).  ``None``
    disables the guard (identity).

    A bot key with 10⁸ events would otherwise drag its entire history
    through every window pass of the analytics below; the cap bounds
    per-key work at the first, cheapest pass — row_number is a running
    (streaming-frame) window, and rows past the cap never reach the
    heavier chained windows or per-session collects.  Spark's window
    buffer spills past ``spark.sql.windowExec.buffer.spill.threshold``,
    so even the capping pass itself degrades to disk, not OOM.
    Dropped rows are observable via :func:`key_overflow_counts`.
    Without ``tiebreak``, WHICH tied rows are dropped at the boundary
    is arbitrary (session boundaries are tie-invariant, but per-session
    event counts can differ) — pass one when exactness at the cap
    matters.
    """
    if max_events_per_key is None:
        return df
    if max_events_per_key < 1:
        raise ValueError("max_events_per_key must be >= 1")
    order = [F.col(ts_col)] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(key).orderBy(*order)
    return (
        df.withColumn("__cap_rn", F.row_number().over(w))
        .filter(F.col("__cap_rn") <= max_events_per_key)
        .drop("__cap_rn")
    )


def key_overflow_counts(
    df: DataFrame,
    key: str = "user_id",
    max_events_per_key: int = 100_000,
) -> DataFrame:
    """Observability twin of :func:`cap_events_per_key`: one row per
    key whose event count exceeds the cap — (key, n_events) — so capped
    traffic is counted/logged, never silently vanished.  One map-side-
    combined aggregation; output is hot-key-sized."""
    return (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .filter(F.col("n_events") > max_events_per_key)
    )


def sessionize(
    df: DataFrame,
    ts_col: str = "ts",
    key: str = "user_id",
    gap_seconds: int = 1800,
    max_events_per_key: int | None = None,
) -> DataFrame:
    """Assign gap-based session ids: events of the same ``key`` whose
    inter-arrival gap is ≤ ``gap_seconds`` share a session; a strictly
    larger gap starts a new one (matching Spark's session_window merge
    rule, where a gap of exactly the threshold still merges).

    Adds ``session_seq`` — the 1-based session index within the key;
    (key, session_seq) is the session identity.

    100 TB: ONE hash exchange on ``key`` feeds both window passes
    (lag + running sum share the partitioning and sort), then the
    result streams — no second shuffle, no state beyond a partition
    sort.  Skewed keys (one user with millions of events) sort within
    one task; pass ``max_events_per_key`` to enforce the ceiling (first
    N events kept, overflow via :func:`key_overflow_counts`) instead of
    relying on upstream hygiene.
    """
    df = cap_events_per_key(df, ts_col, key, max_events_per_key)
    w = Window.partitionBy(key).orderBy(ts_col)
    prev = F.lag(F.col(ts_col)).over(w)
    gap = F.unix_timestamp(ts_col) - F.unix_timestamp(prev)
    new_flag = F.when(prev.isNull() | (gap > gap_seconds), 1).otherwise(0)
    cum = Window.partitionBy(key).orderBy(ts_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.withColumn("session_seq", F.sum(new_flag).over(cum))


def session_stats(
    df: DataFrame,
    ts_col: str = "ts",
    key: str = "user_id",
    gap_seconds: int = 1800,
    aggs: list[Column] | None = None,
    max_events_per_key: int | None = None,
) -> DataFrame:
    """Per-session rollup over :func:`sessionize`: one row per
    (key, session_seq) with start/end timestamps and event count, plus
    any caller ``aggs``.  The groupBy keys extend the window partition
    key, so the aggregation is a narrow second pass after partial
    (map-side) aggregation."""
    s = sessionize(df, ts_col, key, gap_seconds, max_events_per_key)
    extra = list(aggs) if aggs else []
    return s.groupBy(key, "session_seq").agg(
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        *extra,
    )


def funnel_steps(
    df: DataFrame,
    steps: list[str],
    ts_col: str = "ts",
    key: str = "user_id",
    step_col: str = "event_type",
    within_seconds: int | None = None,
    max_events_per_key: int | None = None,
) -> DataFrame:
    """Ordered-funnel progression: for each ``key``, the earliest
    timestamp at which it completed step i — where completing step i
    requires an event of ``steps[i]`` STRICTLY AFTER the completion
    time of step i−1 (the classic product funnel; a purchase logged
    before the first view does not count as conversion).
    ``within_seconds`` adds a conversion window: step i must also land
    within that many seconds of step i−1 ("purchased within 7 days of
    first view"), evaluated per transition.

    Caveat (greedy semantics, industry-standard): each step binds its
    EARLIEST valid time given the previous binding.  With a window,
    a later step-i occurrence could in principle rescue a dead funnel
    that the earliest one times out — this implementation, like the
    warehouse SQL it mirrors, does not backtrack.

    Output: one row per key with ``step_1_ts … step_k_ts`` (null once
    progression stops) and ``funnel_stage`` = number of steps reached.

    100 TB: the chained conditional mins are entire-partition window
    aggregates over the SAME key partitioning — Catalyst plans one
    hash exchange and evaluates all k passes on the sorted partition;
    the final per-key reduction is a groupBy on the same key.  No
    joins, no per-step scans of the log.  ``max_events_per_key`` is
    the hot-key ceiling (cap_events_per_key) applied before the window
    chain.
    """
    df = cap_events_per_key(df, ts_col, key, max_events_per_key)
    w = Window.partitionBy(key)
    out = df
    prev_ts: Column | None = None
    for i, step in enumerate(steps, start=1):
        hit = F.col(step_col) == step
        if prev_ts is not None:
            hit = hit & (F.col(ts_col) > prev_ts)
            if within_seconds is not None:
                hit = hit & (
                    F.unix_timestamp(ts_col)
                    <= F.unix_timestamp(prev_ts) + within_seconds
                )
        col_name = f"step_{i}_ts"
        out = out.withColumn(
            col_name,
            F.min(F.when(hit, F.col(ts_col))).over(w),
        )
        prev_ts = F.col(col_name)
    per_key = out.groupBy(key).agg(
        *[F.min(f"step_{i}_ts").alias(f"step_{i}_ts") for i in range(1, len(steps) + 1)]
    )
    # Build ascending so the HIGHEST completed step is the outermost
    # branch (progression guarantees step i implies steps < i).
    stage = F.lit(0)
    for i in range(1, len(steps) + 1):
        stage = F.when(F.col(f"step_{i}_ts").isNotNull(), i).otherwise(stage)
    return per_key.withColumn("funnel_stage", stage)


def funnel_counts(
    df: DataFrame,
    steps: list[str],
    ts_col: str = "ts",
    key: str = "user_id",
    step_col: str = "event_type",
    within_seconds: int | None = None,
    max_events_per_key: int | None = None,
) -> DataFrame:
    """Funnel summary: for each step index, how many keys reached it
    (``funnel_stage >= i``) — the k-row table a dashboard plots.
    Computed as one aggregation over :func:`funnel_steps` (key-sized,
    not event-sized input)."""
    fs = funnel_steps(
        df, steps, ts_col, key, step_col, within_seconds, max_events_per_key
    )
    rows = F.explode(
        F.filter(
            F.array(*[F.lit(i) for i in range(1, len(steps) + 1)]),
            lambda i: i <= F.col("funnel_stage"),
        )
    ).alias("step")
    return (
        fs.select(rows)
        .groupBy("step")
        .agg(F.count(F.lit(1)).alias("n_keys"))
    )


def cohort_retention(
    df: DataFrame,
    ts_col: str = "ts",
    key: str = "user_id",
    period_seconds: int = 86400,
) -> DataFrame:
    """Cohort retention matrix: cohort = the period of the key's FIRST
    event; a key is retained at offset d if it has any event in period
    cohort+d.  Output: (cohort, period_offset, n_keys) — the classic
    triangle chart.

    100 TB: one window-min over the key partitioning (single
    exchange), a distinct on (key, cohort, offset) — key-prefixed, so
    partial aggregation collapses almost everything map-side — and a
    tiny final rollup.  No self-join of the event log against itself.
    """
    p = F.floor(F.unix_timestamp(ts_col) / period_seconds).cast("bigint")
    w = Window.partitionBy(key)
    periods = df.select(
        F.col(key), p.alias("__p"), F.min(p).over(w).alias("__cohort")
    )
    return (
        periods.select(
            key,
            F.col("__cohort").alias("cohort"),
            (F.col("__p") - F.col("__cohort")).alias("period_offset"),
        )
        .distinct()
        .groupBy("cohort", "period_offset")
        .agg(F.count(F.lit(1)).alias("n_keys"))
    )


def histogram(
    df: DataFrame,
    col: str,
    nbins: int,
    lo: float,
    hi: float,
) -> DataFrame:
    """Fixed-range equi-width histogram: counts per bin over
    ``[lo, hi)`` with nulls dropped and out-of-range values clamped
    into the edge bins (so the counts always sum to the non-null row
    count — the profiling contract).  ``bin_lo`` is the bin's left
    edge, derived from the same literals in both engines.

    100 TB: a narrow map to the bin index and one nbins-ary groupBy —
    map-side combine reduces shuffle volume to nbins rows per task.
    """
    if nbins < 1:
        raise ValueError("nbins must be >= 1")
    width = (float(hi) - float(lo)) / nbins
    raw = F.floor((F.col(col) - F.lit(float(lo))) / F.lit(width)).cast("bigint")
    bin_ = F.least(F.lit(nbins - 1).cast("bigint"), F.greatest(F.lit(0).cast("bigint"), raw))
    return (
        df.filter(F.col(col).isNotNull())
        .select(bin_.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("bin_lo", F.lit(float(lo)) + F.col("bin") * F.lit(width))
    )


def session_paths(
    df: DataFrame,
    ts_col: str = "ts",
    key: str = "user_id",
    step_col: str = "event_type",
    tiebreak: str | None = None,
    gap_seconds: int = 1800,
    max_len: int = 20,
) -> DataFrame:
    """Top navigation paths: the ordered sequence of ``step_col``
    values within each session, truncated to ``max_len`` steps,
    counted across sessions — "what do users actually do" in one
    relation (path string, n_sessions).

    Ordering must be total for the path string to be deterministic:
    pass ``tiebreak`` (an id column) to break timestamp ties.  Without
    one, the step value itself is the tiebreak — tied events order by
    (ts, step), which pins every emitted path string (events tied on
    BOTH ts and step are interchangeable in the string), so no default
    call path can produce run-to-run-different output.  Prefer an
    explicit id tiebreak when tie order is semantically meaningful
    ("did the user view before clicking at the same second").

    100 TB: sessionize's single key exchange also serves the
    row_number cap (same partitioning, extended order), events past
    ``max_len`` are DROPPED BEFORE the collect — so a bot session of
    10⁶ events contributes max_len rows to the aggregation state, not
    10⁶ — then one (key, session) aggregation builds the path array
    map-side and a path-keyed count finishes.
    """
    s = sessionize(df, ts_col, key, gap_seconds)
    # Deterministic-by-default: fall back to the step value as the
    # tie-order surrogate (see docstring).
    order = [F.col(ts_col), F.col(tiebreak) if tiebreak else F.col(step_col)]
    rn = Window.partitionBy(key, "session_seq").orderBy(*order)
    s = s.withColumn("__rn", F.row_number().over(rn)).filter(
        F.col("__rn") <= max_len
    )
    step = F.struct(*order, F.col(step_col).alias("__step"))
    per_session = s.groupBy(key, "session_seq").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(step)), lambda x: x["__step"]
            ),
            ">",
        ).alias("path")
    )
    return per_session.groupBy("path").agg(
        F.count(F.lit(1)).alias("n_sessions")
    )


def detect_gaps(
    df: DataFrame,
    ts_col: str = "ts",
    key: str = "user_id",
    min_gap_seconds: int = 3600,
) -> DataFrame:
    """Outage / silence detection: one row per inter-event gap STRICTLY
    longer than the threshold — (key, gap_start, gap_end, gap_seconds),
    where gap_start is the last event before the silence.  The
    monitoring twin of :func:`sessionize` (its boundaries are exactly
    these gaps).

    100 TB: one lag() pass on the key partitioning, then a filter —
    nothing else.  Tie-safe (tied timestamps yield zero gaps, never
    emitted).
    """
    w = Window.partitionBy(key).orderBy(ts_col)
    prev = F.lag(F.col(ts_col)).over(w)
    gap = F.unix_timestamp(ts_col) - F.unix_timestamp(prev)
    return (
        df.select(
            F.col(key),
            prev.alias("gap_start"),
            F.col(ts_col).alias("gap_end"),
            gap.alias("gap_seconds"),
        )
        .filter(F.col("gap_seconds") > min_gap_seconds)
    )


def event_transitions(
    df: DataFrame,
    ts_col: str = "ts",
    key: str = "user_id",
    step_col: str = "event_type",
    tiebreak: str | None = None,
    gap_seconds: int | None = None,
    max_events_per_key: int | None = None,
) -> DataFrame:
    """First-order Markov transition counts: order each key's events,
    count adjacent (from_step → to_step) pairs across the corpus —
    the empirical transition matrix behind "what happens after X"
    product questions and next-event baselines.  With ``gap_seconds``,
    streams reset at session boundaries (no transition across a gap);
    without it, each key is one unbroken stream.

    Determinism: events order by (ts, ``tiebreak`` or step value).
    With the step-value fallback, tied events order by their step, so
    the transition MULTISET is pinned (events tied on both ts and step
    are interchangeable) — same discipline as :func:`session_paths`.

    Output: (from_step, to_step, n).

    100 TB: one key exchange serves the cap, the sessionization, and
    the lag pass (same partitioning); the final count is
    step-vocabulary-sized, map-side combined.  Pass
    ``max_events_per_key`` to bound bot keys
    (:func:`cap_events_per_key`).
    """
    base = cap_events_per_key(
        df, ts_col=ts_col, key=key, max_events_per_key=max_events_per_key,
        tiebreak=tiebreak or step_col,
    )
    part = [key]
    if gap_seconds is not None:
        base = sessionize(base, ts_col, key, gap_seconds)
        part = [key, "session_seq"]
    order = [F.col(ts_col), F.col(tiebreak) if tiebreak else F.col(step_col)]
    w = Window.partitionBy(*part).orderBy(*order)
    return (
        base.withColumn("__from", F.lag(step_col).over(w))
        .filter(F.col("__from").isNotNull())
        .groupBy(
            F.col("__from").alias("from_step"),
            F.col(step_col).alias("to_step"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def mad_outliers(
    df: DataFrame,
    value_col: str = "value",
    key: str = "user_id",
    threshold: float = 3.0,
    id_cols: tuple[str, ...] = ("event_id",),
) -> DataFrame:
    """Robust per-key anomaly detection: rows whose value deviates
    from the key's median by more than ``threshold`` × MAD (median
    absolute deviation) — the outlier test that, unlike z-scores, a
    single extreme value cannot mask.

    Medians are LOWER medians (the order statistic at rank
    ⌈n/2⌉ under the total (value, ``id_cols``) order): an actual data
    element, selected by integer rank arithmetic with no
    interpolation — so both engines pick bit-identical medians and
    every downstream float op (one subtraction, one multiply, one
    compare) is an identical IEEE chain.  Keys whose MAD is 0 (more
    than half the values identical) emit only rows strictly above the
    median-only test (dev > 0 is never > 0 = threshold·0 ⟹ no rows).

    Output: (key, *id_cols, value, median, mad, deviation) for
    outlier rows only.

    NULL values are EXCLUDED before any rank arithmetic (the
    percentile_rank discipline): Spark's window sorts NULLs first, so
    a NULL row would shift the ⌈n/2⌉ lower-median rank — or become
    the "median" itself, nulling the deviation test and silently
    emitting zero outliers for the key (ADVICE r7).  A NULL value is
    never an outlier and never part of n.

    100 TB: two window passes and one aggregation-join per statistic,
    ALL on the key partitioning — one exchange total, reused by every
    pass (sort-only reshapes within partitions).  No all-pairs, no
    collect; per-key row counts bound the window state (cap upstream
    via :func:`cap_events_per_key` if a key can exceed task memory).
    """
    df = df.filter(F.col(value_col).isNotNull())
    ids = [F.col(c) for c in id_cols]
    v = F.col(value_col)

    def lower_median(frame: DataFrame, col: str, out: str) -> DataFrame:
        w = Window.partitionBy(key).orderBy(F.col(col), *ids)
        wk = Window.partitionBy(key)
        ranked = frame.withColumn("__rn", F.row_number().over(w)).withColumn(
            "__n", F.count(F.lit(1)).over(wk)
        )
        return ranked.filter(
            F.col("__rn") == F.expr("(__n + 1) div 2")
        ).groupBy(key).agg(F.min(col).alias(out))

    meds = lower_median(df, value_col, "median")
    dev = df.join(meds, key).withColumn(
        "deviation", F.abs(v - F.col("median"))
    )
    mads = lower_median(dev, "deviation", "mad")
    return (
        dev.join(mads, key)
        .filter(F.col("deviation") > F.lit(float(threshold)) * F.col("mad"))
        .select(key, *id_cols, value_col, "median", "mad", "deviation")
    )


def attribution(
    df: DataFrame,
    conversion: str = "purchase",
    touch_types: tuple[str, ...] = ("view", "click"),
    model: str = "last",
    lookback_seconds: int | None = None,
    ts_col: str = "ts",
    key: str = "user_id",
    type_col: str = "event_type",
    id_col: str = "event_id",
    max_events_per_key: int | None = None,
) -> DataFrame:
    """Marketing attribution: credit each conversion event's preceding
    touch events.  ``model``: 'last' / 'first' (all credit to the
    latest/earliest qualifying touch), 'linear' (equal split over all
    qualifying touches).  A touch qualifies for a conversion iff
    (touch_ts, touch_id) < (conv_ts, conv_id) lexicographically — the
    unique ``id_col`` makes simultaneous events deterministic — and,
    with ``lookback_seconds``, lands within that many seconds of the
    conversion.  Conversions with no qualifying touch produce no row
    (count them via an anti-join on conv_id when reporting).

    Output: (key, conv_id, touch_id, touch_type, credit) — one row per
    conversion for first/last (credit 1.0), one per qualifying touch
    for linear (credits per conversion sum to exactly 1 up to float
    division).

    100 TB: one key-equi join (user key) with residual time
    predicates; amplification is per-key touches×conversions, so the
    behavioral skew guard applies — pass ``max_events_per_key`` to cap
    bot keys (:func:`cap_events_per_key`), and a lookback bounds the
    window further.  The per-conversion rank/count is a
    (key, conv_id)-keyed window — conversion-sized, not corpus-sized —
    so ``id_col`` only needs to be unique *per key*, not globally.
    """
    if model not in ("last", "first", "linear"):
        raise ValueError(f"unknown attribution model: {model!r}")
    base = cap_events_per_key(
        df, ts_col=ts_col, key=key, max_events_per_key=max_events_per_key,
        tiebreak=id_col,
    )
    conv = base.filter(F.col(type_col) == conversion).select(
        F.col(key),
        F.col(id_col).alias("conv_id"),
        F.col(ts_col).alias("__cts"),
    )
    touch = base.filter(F.col(type_col).isin(*touch_types)).select(
        F.col(key),
        F.col(id_col).alias("touch_id"),
        F.col(type_col).alias("touch_type"),
        F.col(ts_col).alias("__tts"),
    )
    strictly_before = (F.col("__tts") < F.col("__cts")) | (
        (F.col("__tts") == F.col("__cts"))
        & (F.col("touch_id") < F.col("conv_id"))
    )
    j = conv.join(touch, key).filter(strictly_before)
    if lookback_seconds is not None:
        j = j.filter(
            F.unix_timestamp("__cts") - F.unix_timestamp("__tts")
            <= int(lookback_seconds)
        )
    # Partition by (key, conv_id), not conv_id alone: if event ids are
    # only unique per key, two users sharing a conv_id must not pool
    # credit.  Identical result when ids are globally unique.
    if model == "linear":
        w = Window.partitionBy(key, "conv_id")
        out = j.withColumn(
            "credit", F.lit(1.0) / F.count(F.lit(1)).over(w)
        )
    else:
        order = (
            [F.col("__tts").desc(), F.col("touch_id").desc()]
            if model == "last"
            else [F.col("__tts").asc(), F.col("touch_id").asc()]
        )
        w = Window.partitionBy(key, "conv_id").orderBy(*order)
        out = (
            j.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .withColumn("credit", F.lit(1.0))
        )
    return out.select(key, "conv_id", "touch_id", "touch_type", "credit")


def rfm(
    df: DataFrame,
    r_bounds: list[float],
    f_bounds: list[float],
    m_bounds: list[float],
    now_ts: int | None = None,
    ts_col: str = "ts",
    key: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """RFM segmentation with EXPLICIT bin boundaries: per key compute
    recency (seconds since last event, relative to ``now_ts`` — pass
    it explicitly for reproducible runs; defaults to the corpus max
    timestamp), frequency (event count), monetary (exact-decimal value
    sum), then score each 1..len(bounds)+1 by its ascending boundary
    list (score = 1 + #bounds strictly below the metric; for recency
    LOWER is better, so its scores are reversed).

    Boundaries are explicit — not ntile — BY DESIGN: a rank-based
    split needs a total order over all keys (the keyless-window scale
    killer), while fixed cuts are one narrow map after the per-key
    aggregate.  Derive data-driven cuts from a q-digest of each metric
    (sketches.py) at sketch cost — the corpus_monitoring composition.

    Output: (key, recency_s, frequency, monetary, r, f, m, segment)
    with segment = 100·r + 10·f + m (the conventional "rfm cell").
    """
    aggs = df.groupBy(key).agg(
        F.max(F.unix_timestamp(ts_col)).alias("__last"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col(value_col).cast("decimal(20,4)"))
        .cast("double")
        .alias("monetary"),
    )
    if now_ts is None:
        mx = df.agg(F.max(F.unix_timestamp(ts_col)).alias("__now"))
        aggs = aggs.crossJoin(F.broadcast(mx))
    else:
        aggs = aggs.withColumn("__now", F.lit(int(now_ts)))
    aggs = aggs.withColumn(
        "recency_s", (F.col("__now") - F.col("__last")).cast("bigint")
    )

    def score(col: str, bounds: list[float], reverse: bool = False):
        s = F.lit(1)
        for b in bounds:
            s = s + F.when(F.col(col) > F.lit(b), 1).otherwise(0)
        if reverse:
            return F.lit(len(bounds) + 2) - s
        return s

    out = aggs.select(
        key,
        "recency_s",
        "frequency",
        "monetary",
        score("recency_s", list(r_bounds), reverse=True).alias("r"),
        score("frequency", list(f_bounds)).alias("f"),
        score("monetary", list(m_bounds)).alias("m"),
    )
    return out.withColumn(
        "segment", (F.col("r") * 100 + F.col("f") * 10 + F.col("m")).cast("int")
    )


def ab_assign(
    df: DataFrame,
    id_cols: list[str],
    treat_frac: float = 0.5,
    seed: str = "0",
    out: str = "variant",
) -> DataFrame:
    """Deterministic A/B assignment: md5-bucket each unit into
    'treatment' ([0, treat_frac)) or 'control' — the
    :func:`pigout_spark.pipeline.curation.split_corpus` threshold
    discipline, so assignment is reproducible across runs, engines,
    and reprocessing (a unit never switches arms mid-experiment).
    Pure narrow map."""
    from pigout_spark.pipeline.curation import split_corpus

    f = float(treat_frac)
    if not (0.0 < f < 1.0):
        raise ValueError(f"treat_frac must be in (0, 1), got {f}")
    return split_corpus(
        df, {"treatment": f, "control": 1.0 - f}, id_cols, seed=seed, out=out
    )


def ab_lift(
    df: DataFrame,
    metric_col: str,
    id_cols: list[str],
    treat_frac: float = 0.5,
    seed: str = "0",
    by: list[str] | None = None,
) -> DataFrame:
    """A/B experiment readout in one row: per-variant n / mean /
    sample variance, absolute lift (treatment − control) and the
    two-sample z statistic (Welch SE) — the experiment-analysis
    primitive over any metric column.

    Determinism: component sums follow the q33 COR/COV discipline
    (value and value² cast to DECIMAL scale 8 before summing — exact
    for metrics carrying up to 8 decimals, order-free), then one
    fixed IEEE formula chain; both engines produce bit-identical
    means/variances/z.

    NULL metrics are EXCLUDED before anything is counted (the
    percentile_rank discipline): a NULL-metric unit contributes to
    neither n, sum, nor sum-of-squares of its arm, so means and
    variances describe exactly the measured units.  (Before r8 the
    counts included NULL rows while the CASE-guarded sums skipped
    them, silently deflating both arms' means — ADVICE r7.)

    ``by`` (r8): segment columns for a per-segment readout — the
    heterogeneous-treatment-effect reporting shape ("which cohorts
    moved").  Same formula chain per group; segments with an empty or
    singleton arm get NULL variance/z via the n−1 denominators (a
    readout, not a crash).  Note the multiple-comparisons caveat:
    per-segment z statistics are NOT familywise-corrected.

    100 TB: one narrow assignment map + ONE conditional aggregation to
    a single broadcast-sized row (grouped: one map-side-combinable
    groupBy onto the segment key).  No other shuffle.
    """
    a = ab_assign(df, id_cols, treat_frac=treat_frac, seed=seed).filter(
        F.col(metric_col).isNotNull()
    )
    is_t = F.col("variant") == "treatment"
    v = F.col(metric_col)
    # scale-8 casts (the cuped_lift discipline): a scale-4 cast of a
    # metric carrying >4 decimals ROUNDS, and the engines' half
    # conventions differ — scale 8 keeps few-decimal metrics and
    # their squares exact
    grouped = a.groupBy(*by) if by else a
    s = grouped.agg(
        F.sum(F.when(is_t, 1).otherwise(0)).cast("long").alias("n_t"),
        F.sum(F.when(~is_t, 1).otherwise(0)).cast("long").alias("n_c"),
        F.sum(F.when(is_t, v).otherwise(F.lit(0.0)).cast("decimal(24,8)"))
        .cast("double").alias("sx_t"),
        F.sum(F.when(~is_t, v).otherwise(F.lit(0.0)).cast("decimal(24,8)"))
        .cast("double").alias("sx_c"),
        F.sum(F.when(is_t, v * v).otherwise(F.lit(0.0)).cast("decimal(30,8)"))
        .cast("double").alias("sxx_t"),
        F.sum(F.when(~is_t, v * v).otherwise(F.lit(0.0)).cast("decimal(30,8)"))
        .cast("double").alias("sxx_c"),
    )
    n_t, n_c = F.col("n_t"), F.col("n_c")
    # empty / singleton arms (possible per segment in the ``by`` form)
    # are a NULL readout, not an ANSI divide-by-zero crash
    mean_t = F.when(n_t > 0, F.col("sx_t") / n_t)
    mean_c = F.when(n_c > 0, F.col("sx_c") / n_c)
    var_t = F.when(
        n_t > 1,
        (n_t * F.col("sxx_t") - F.col("sx_t") * F.col("sx_t"))
        / (n_t * (n_t - 1)),
    )
    var_c = F.when(
        n_c > 1,
        (n_c * F.col("sxx_c") - F.col("sx_c") * F.col("sx_c"))
        / (n_c * (n_c - 1)),
    )
    lift = mean_t - mean_c
    z = lift / F.sqrt(var_t / n_t + var_c / n_c)
    return s.select(
        *(by or []),
        n_c, n_t,
        mean_c.alias("mean_c"), mean_t.alias("mean_t"),
        var_c.alias("var_c"), var_t.alias("var_t"),
        lift.alias("lift"), z.alias("z"),
    )


def session_ngrams(
    df: DataFrame,
    n: int = 3,
    ts_col: str = "ts",
    key: str = "user_id",
    step_col: str = "event_type",
    tiebreak: str | None = None,
    gap_seconds: int = 1800,
    max_events_per_key: int | None = None,
) -> DataFrame:
    """Frequent flow mining: count every n-step event sequence that
    occurs CONTIGUOUSLY inside a session, corpus-wide — the n-gram
    generalization of :func:`event_transitions` (n=2) and the
    aggregate view :func:`session_paths` cannot give once paths are
    truncated ("which 3-step flows dominate" regardless of where in
    the session they occur).

    Determinism: same (ts, ``tiebreak`` or step) order discipline as
    the rest of the family — the n-gram multiset is pinned.

    Output: (gram, n_occurrences), gram as 'a>b>c'.

    100 TB: the cap, the sessionization, and the n−1 lag passes all
    share ONE key exchange (same partitioning and sort — Catalyst
    fuses the lag chain into one window operator); the count is
    gram-vocabulary-sized, map-side combined.
    """
    if n < 2:
        raise ValueError("session_ngrams needs n >= 2")
    base = cap_events_per_key(
        df, ts_col=ts_col, key=key, max_events_per_key=max_events_per_key,
        tiebreak=tiebreak or step_col,
    )
    s = sessionize(base, ts_col, key, gap_seconds)
    order = [F.col(ts_col), F.col(tiebreak) if tiebreak else F.col(step_col)]
    w = Window.partitionBy(key, "session_seq").orderBy(*order)
    lags = [F.lag(step_col, n - 1 - i).over(w) for i in range(n - 1)]
    # NULL-propagating concat (NOT concat_ws, which silently SKIPS
    # null steps and would collapse 'a>NULL>c' into the legitimate
    # 2-gram 'a>c'): any gram touching a NULL step becomes NULL and is
    # dropped, matching the SQL '||' operator.
    parts: list = []
    for lg in lags:
        parts += [lg, F.lit(">")]
    gram = F.concat(*parts, F.col(step_col))
    return (
        s.withColumn("__g", gram)
        .filter(F.col("__g").isNotNull())
        .groupBy(F.col("__g").alias("gram"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
    )


def basket_rules(
    df: DataFrame,
    basket_col: str = "order_id",
    item_col: str = "item_id",
    min_pair_support: int = 2,
) -> DataFrame:
    """Market-basket association mining: for every unordered item pair
    appearing together in at least ``min_pair_support`` baskets, the
    classic rule statistics —

        support     baskets containing both a and b
        conf_a_b    support / baskets(a)   (a ⇒ b confidence)
        conf_b_a    support / baskets(b)
        lift        support·N / (baskets(a)·baskets(b))

    Items are deduplicated within a basket (quantity does not inflate
    co-occurrence).  Output: (item_a, item_b, support, n_a, n_b,
    conf_a_b, conf_b_a, lift), item_a < item_b.

    Determinism: every statistic is a ratio of exact integer counts —
    one double division per column, identical across engines.

    100 TB: the pair join is a basket-keyed self-join whose
    amplification is C(|basket|, 2) — bounded by the LARGEST BASKET,
    not the catalog (retail baskets are tens of items; cap upstream if
    a pathological basket can exceed task memory).  Item counts and
    the basket total are one aggregation each; the per-item joins are
    item-keyed equi-joins against an item-catalog-sized relation.
    """
    b = df.select(
        F.col(basket_col).alias("__b"), F.col(item_col).alias("__i")
    ).distinct()
    # basket total as a broadcast 1-row frame (the bm25_topk idiom),
    # not an eager .count() — keeps plan construction lazy and the
    # input scanned exactly once per action
    nb_frame = b.agg(
        F.count_distinct("__b").cast("double").alias("__nb")
    )
    item_n = b.groupBy("__i").agg(F.count(F.lit(1)).alias("__n"))
    x, y = b.alias("x"), b.alias("y")
    pairs = (
        x.join(
            y,
            (F.col("x.__b") == F.col("y.__b"))
            & (F.col("x.__i") < F.col("y.__i")),
        )
        .groupBy(
            F.col("x.__i").alias("item_a"), F.col("y.__i").alias("item_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .filter(F.col("support") >= int(min_pair_support))
    )
    na = item_n.select(
        F.col("__i").alias("item_a"), F.col("__n").alias("n_a")
    )
    nb = item_n.select(
        F.col("__i").alias("item_b"), F.col("__n").alias("n_b")
    )
    s = F.col("support").cast("double")
    return (
        pairs.join(na, "item_a")
        .join(nb, "item_b")
        .crossJoin(F.broadcast(nb_frame))
        .select(
            "item_a", "item_b", "support",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            (s / F.col("n_a").cast("double")).alias("conf_a_b"),
            (s / F.col("n_b").cast("double")).alias("conf_b_a"),
            (
                s * F.col("__nb")
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
            ).alias("lift"),
        )
    )


def cuped_lift(
    df: DataFrame,
    metric_col: str,
    covariate_col: str,
    id_cols: list[str],
    treat_frac: float = 0.5,
    seed: str = "0",
) -> DataFrame:
    """CUPED variance-reduced A/B readout (Deng et al., WSDM 2013):
    adjust the metric by a pre-experiment covariate,
    y' = y − θ·(x − x̄) with θ = cov(x, y)/var(x) pooled over all
    units, then the Welch z on the adjusted means — the standard
    sensitivity boost when a correlated pre-period metric exists.

    Formulated ALGEBRAICALLY on exact component sums (no per-row
    adjusted values anywhere):

        mean'(arm) = mean_y(arm) − θ·(mean_x(arm) − x̄)
        var'(arm)  = var_y(arm) − 2θ·cov_xy(arm) + θ²·var_x(arm)

    so the whole readout is one conditional aggregation of
    DECIMAL-exact sums (the q33 discipline) + a fixed scalar IEEE
    chain — bit-identical across engines, with none of the
    double-rounding hazards per-row adjustment would introduce.

    Output: one row — n_c, n_t, theta, lift_raw, z_raw, lift_cuped,
    z_cuped (adjusted lift equals raw lift minus θ·covariate
    imbalance; its z uses the reduced variances).

    Units with a NULL metric OR NULL covariate are EXCLUDED up front
    (the :func:`ab_lift` / percentile_rank NULL discipline): CUPED
    needs the (y, x) pair, so a unit missing either contributes to no
    count and no component sum — θ, means, and variances describe
    exactly the fully-measured units (ADVICE r7).

    100 TB: one narrow assignment map + ONE 1-row conditional
    aggregation.  Nothing else shuffles.
    """
    a = ab_assign(df, id_cols, treat_frac=treat_frac, seed=seed).filter(
        F.col(metric_col).isNotNull() & F.col(covariate_col).isNotNull()
    )
    is_t = F.col("variant") == "treatment"
    y, x = F.col(metric_col), F.col(covariate_col)

    def csum(cond, expr, prec):
        return F.sum(
            F.when(cond, expr).otherwise(F.lit(0.0)).cast(prec)
        ).cast("double")

    aggs = []
    for tag, cond in (("t", is_t), ("c", ~is_t)):
        aggs += [
            F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(f"n_{tag}"),
            csum(cond, y, "decimal(24,8)").alias(f"sy_{tag}"),
            csum(cond, x, "decimal(24,8)").alias(f"sx_{tag}"),
            # products of few-decimal inputs carry up to ~8 decimals:
            # scale 8 keeps the decimal cast EXACT (a scale-4 cast
            # would round, and the engines' half-rounding conventions
            # differ — caught by the oracle hash)
            csum(cond, y * y, "decimal(30,8)").alias(f"syy_{tag}"),
            csum(cond, x * x, "decimal(30,8)").alias(f"sxx_{tag}"),
            csum(cond, x * y, "decimal(30,8)").alias(f"sxy_{tag}"),
        ]
    s = a.agg(*aggs)

    def col(n):
        return F.col(n)

    n_t, n_c = col("n_t"), col("n_c")
    n = n_t + n_c
    sy = col("sy_t") + col("sy_c")
    sx = col("sx_t") + col("sx_c")
    sxx = col("sxx_t") + col("sxx_c")
    sxy = col("sxy_t") + col("sxy_c")
    theta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    xbar = sx / n

    def arm(tag):
        nn = col(f"n_{tag}")
        my = col(f"sy_{tag}") / nn
        mx = col(f"sx_{tag}") / nn
        vy = (nn * col(f"syy_{tag}") - col(f"sy_{tag}") * col(f"sy_{tag}")) / (
            nn * (nn - 1)
        )
        vx = (nn * col(f"sxx_{tag}") - col(f"sx_{tag}") * col(f"sx_{tag}")) / (
            nn * (nn - 1)
        )
        cxy = (nn * col(f"sxy_{tag}") - col(f"sx_{tag}") * col(f"sy_{tag}")) / (
            nn * (nn - 1)
        )
        m_adj = my - theta * (mx - xbar)
        v_adj = vy - 2 * theta * cxy + theta * theta * vx
        return nn, my, vy, m_adj, v_adj

    nt, myt, vyt, mat, vat = arm("t")
    nc, myc, vyc, mac, vac = arm("c")
    lift_raw = myt - myc
    z_raw = lift_raw / F.sqrt(vyt / nt + vyc / nc)
    lift_cuped = mat - mac
    z_cuped = lift_cuped / F.sqrt(vat / nt + vac / nc)
    return s.select(
        nc.alias("n_c"), nt.alias("n_t"),
        theta.alias("theta"),
        lift_raw.alias("lift_raw"), z_raw.alias("z_raw"),
        lift_cuped.alias("lift_cuped"), z_cuped.alias("z_cuped"),
    )


def srm_check(
    df: DataFrame,
    id_cols: list[str],
    treat_frac: float = 0.5,
    seed: str = "0",
    chi2_critical: float = 3.841,
) -> DataFrame:
    """Sample-ratio-mismatch check — the first thing to run on any
    experiment readout: a chi-square goodness-of-fit of the observed
    arm counts against the configured split.  A failing SRM means the
    assignment or logging pipeline is broken and every downstream
    metric is suspect.

    chi² = Σ (obs − exp)²/exp over the two arms (1 dof); the default
    critical value 3.841 is p = 0.05.  Emitting the statistic and the
    boolean keeps both engines special-function-free (no χ² CDF
    needed) and the whole check one integer-count row.

    Output: (n_c, n_t, expected_t, chi2, srm_suspected).
    """
    a = ab_assign(df, id_cols, treat_frac=treat_frac, seed=seed)
    is_t = F.col("variant") == "treatment"
    s = a.agg(
        F.sum(F.when(is_t, 1).otherwise(0)).cast("long").alias("n_t"),
        F.sum(F.when(~is_t, 1).otherwise(0)).cast("long").alias("n_c"),
    )
    f = float(treat_frac)
    n = (F.col("n_t") + F.col("n_c")).cast("double")
    exp_t = n * F.lit(f)
    exp_c = n * F.lit(1.0 - f)
    chi2 = (F.col("n_t").cast("double") - exp_t) * (
        F.col("n_t").cast("double") - exp_t
    ) / exp_t + (F.col("n_c").cast("double") - exp_c) * (
        F.col("n_c").cast("double") - exp_c
    ) / exp_c
    return s.select(
        "n_c", "n_t",
        exp_t.alias("expected_t"),
        chi2.alias("chi2"),
        (chi2 > F.lit(float(chi2_critical))).alias("srm_suspected"),
    )


def trend_fit(
    df: DataFrame,
    key_cols: list[str],
    x_col: str,
    y_col: str,
    term_scale: int = 8,
) -> DataFrame:
    """Per-key ordinary-least-squares trend: slope, intercept and r²
    of y over x for every key — the "is this metric drifting" primitive
    (spend per customer over time, latency per endpoint over builds).

    Pure moment algebra on decimal-exact component sums (the
    :func:`cuped_lift` discipline): each row term is cast to DECIMAL
    at scale 8 (exact for few-decimal inputs), summed exactly, and the
    closed forms

        slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
        intercept = (Σy − slope·Σx) / n
        r² = (n·Σxy − Σx·Σy)² / ((n·Σx² − (Σx)²)·(n·Σy² − (Σy)²))

    run as ONE fixed IEEE double chain — bit-identical in any engine
    PROVIDED the decimal sums convert to double identically.  Two
    traps, both found by the oracle hash: (1) fractional doubles big
    enough that 1 ulp exceeds the term scale hit the engines'
    double→decimal conversion divergence (Spark rounds the shortest
    decimal repr, DuckDB the true binary expansion); (2) a POSITIVE
    ``term_scale`` makes DuckDB's decimal→double cast double-round —
    it converts the int128 ·10^scale payload to double FIRST, then
    divides — while Spark converts the decimal value directly, so
    sums past 2^53/10^scale drift at the last ulp.  The hash-exact
    recipe: INTEGERIZED metrics (cents, days, counts — the
    time_weighted_avg discipline) with ``term_scale=0`` (scale-0 sums
    make the cast a single rounding in both engines); keep x·y, x²,
    y² under 2^53.  Fractional metrics stay correct at the default
    scale 8, just not cross-engine bit-identical at every magnitude.
    Rows with a NULL x or y are EXCLUDED from every sum and from n
    (the r8 NULL discipline).  Degenerate keys come back NULL, not
    crashed: zero x-variance (n=1, or all x equal) nulls slope/
    intercept/r² via the zero-denominator guard; zero y-variance
    nulls r² only (slope 0 is still meaningful).

    Output: (*key_cols, n, slope, intercept, r2).

    100 TB: ONE map-side-combinable groupBy on the key columns — six
    partial sums, no window, no join, no second pass.
    """
    if not key_cols:
        raise ValueError("trend_fit needs at least one key column")
    x, y = F.col(x_col), F.col(y_col)
    d = df.filter(x.isNotNull() & y.isNotNull())
    ts = int(term_scale)
    if ts == 0:
        # enforce the integerized-input contract instead of silently
        # truncating: cast-to-bigint TRUNCATES in Spark but ROUNDS in
        # DuckDB, so a fractional metric would produce a confidently
        # wrong slope AND diverge from the twin (r8 self-review).  The
        # check rides the existing scan (assert_true, distributed).
        d = d.filter(
            F.assert_true(
                (x == F.floor(x)) & (y == F.floor(y)),
                F.lit(
                    "trend_fit(term_scale=0): x/y must be integral "
                    "(cents, days, counts) — use a positive term_scale "
                    "for fractional metrics"
                ),
            ).isNull()
        )

    def dsum(expr, prec):
        return F.sum(expr.cast(prec)).cast("double")

    if ts == 0:
        # Integral terms sum as BIGINT — measured 3x faster than
        # decimal accumulation (whole-stage-codegen long adds vs
        # Decimal objects), still exact, and Spark's ANSI sum raises
        # LOUDLY on int64 overflow instead of wrapping.  Keep |Σterm|
        # under 2^63 (y² is the binding term) or use a positive
        # term_scale for DECIMAL(38) headroom.  DuckDB's SUM(BIGINT)
        # widens to HUGEINT; both engines then single-round the same
        # exact integer to double.
        lin = quad = "bigint"
    else:
        lin = f"decimal({24 + ts},{ts})"
        quad = f"decimal({30 + min(ts, 8)},{ts})"
    s = d.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n"),
        dsum(x, lin).alias("__sx"),
        dsum(y, lin).alias("__sy"),
        dsum(x * x, quad).alias("__sxx"),
        dsum(x * y, quad).alias("__sxy"),
        dsum(y * y, quad).alias("__syy"),
    )
    n = F.col("n")
    sx, sy = F.col("__sx"), F.col("__sy")
    sxx, sxy, syy = F.col("__sxx"), F.col("__sxy"), F.col("__syy")
    cov_n = n * sxy - sx * sy
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    slope = F.when(var_x != 0, cov_n / var_x)
    intercept = (sy - slope * sx) / n
    r2 = F.when(
        (var_x != 0) & (var_y != 0), (cov_n * cov_n) / (var_x * var_y)
    )
    return s.select(
        *key_cols,
        n,
        slope.alias("slope"),
        intercept.alias("intercept"),
        r2.alias("r2"),
    )


def categorical_association(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Association between two categorical columns in one row: the
    chi-square independence statistic with its degrees of freedom,
    Cramér's V (chi² normalized to [0, 1] — comparable across tables),
    and mutual information in nats — the feature-screening primitive
    ("does source predict language", "is variant independent of
    device").  Rows with a NULL in either column are EXCLUDED (the r8
    NULL discipline — a missing category is a data-quality question
    for validate.check_rules, not a category).

    Determinism (oracle-hash discipline): cell/margin counts are exact
    integers; each cell's chi² and MI contribution is one fixed IEEE
    chain ROUNDed to 6 decimals and summed as DECIMAL(20,6) (the
    vocab_kl ln discipline — cell iteration order can never reorder
    the float sum).  Expected counts use n_a·n_b/n with products under
    2^53 by construct (margins ≤ n ≤ rows).  Degenerate inputs (a
    single category on either side) return chi2 0 with dof 0 and
    NULL V (0/0 normalization).

    Output: ONE row (n, dof, chi2_6, cramers_v6, mi6).

    100 TB: one map-side-combined groupBy to the (a, b) cell relation;
    margins and statistics are cells-relation arithmetic (bounded by
    |a|·|b| — keep the columns categorical, not free-text).
    """
    a, b = F.col(col_a), F.col(col_b)
    cells = (
        df.filter(a.isNotNull() & b.isNotNull())
        .groupBy(a.alias("__a"), b.alias("__b"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    wa = Window.partitionBy("__a")
    wb = Window.partitionBy("__b")
    wt = Window.partitionBy()
    m = (
        cells.withColumn("__na", F.sum("__c").over(wa))
        .withColumn("__nb", F.sum("__c").over(wb))
        .withColumn("__n", F.sum("__c").over(wt))
    )
    # margins multiply as DOUBLES: na·nb is bounded by n², not n, so
    # a bigint product wraps past ~3e9-row margins (r8 second
    # self-review); double margins stay exact to 2^53 each and the
    # product's ulp is negligible against e's use in a ROUND-6 chain.
    # The SQL twin casts the same way (DuckDB's BIGINT·BIGINT errors
    # on overflow rather than widening).
    e = F.col("__na").cast("double") * F.col("__nb") / F.col("__n")
    chi_cell = (
        F.round((F.col("__c") - e) * (F.col("__c") - e) / e, 6) + F.lit(0.0)
    ).cast("decimal(20,6)")
    mi_cell = (
        F.round(
            (F.col("__c") / F.col("__n"))
            * F.log(
                F.col("__c").cast("double")
                * F.col("__n")
                / (F.col("__na").cast("double") * F.col("__nb"))
            ),
            6,
        )
        + F.lit(0.0)
    ).cast("decimal(20,6)")
    s = m.agg(
        F.first("__n").alias("n"),
        F.countDistinct("__a").alias("__ka"),
        F.countDistinct("__b").alias("__kb"),
        F.sum(chi_cell).cast("double").alias("chi2_6"),
        F.sum(mi_cell).cast("double").alias("mi6"),
    )
    dof = F.when(
        (F.col("__ka") > 0) & (F.col("__kb") > 0),
        (F.col("__ka") - 1) * (F.col("__kb") - 1),
    ).otherwise(F.lit(0))  # empty/all-NULL input: no table, dof 0
    vmin = F.least(F.col("__ka") - 1, F.col("__kb") - 1)
    return s.select(
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n"),
        dof.cast("bigint").alias("dof"),
        "chi2_6",
        F.when(
            vmin > 0,
            F.round(
                F.sqrt(F.col("chi2_6") / (F.col("n") * vmin.cast("double"))),
                6,
            ),
        ).alias("cramers_v6"),
        "mi6",
    )


def gini(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Per-key Gini coefficient of value concentration — the "does 1%
    of customers carry 90% of revenue" number (0 = perfectly even,
    →1 = one unit holds everything), the value-weighted companion to
    plans.partitioning.skew_stats' row-count view.

        G = (2·Σᵢ i·x₍ᵢ₎ − (n+1)·Σx) / (n·Σx),  x₍ᵢ₎ ascending

    Values must be NON-NEGATIVE (asserted on the scan — a negative
    value makes G meaningless) and integerized for the hash-exact path
    (cents/counts, the trend_fit discipline): both sums accumulate in
    DECIMAL(38,0) (exact; scale-0 casts single-round in every engine).
    Ties need no tiebreak: equal values contribute the same product
    under any rank assignment.  NULL values are excluded.  Single-unit
    keys return G = 0 (no inequality among one unit).

    Output: (*key_cols, n, gini6).

    100 TB: ONE key exchange — the ascending rank window and the
    aggregation share the partitioning.
    """
    v = F.col(value_col)
    d = df.filter(v.isNotNull()).filter(
        F.assert_true(
            (v >= 0) & (v == F.floor(v)),
            F.lit(
                "gini: values must be non-negative integers "
                "(cents, counts) — integerize upstream"
            ),
        ).isNull()
    )
    w = Window.partitionBy(*key_cols).orderBy(value_col)
    # 19-digit operands keep the product inside DECIMAL(38,0) in BOTH
    # engines (38x38 would overflow Spark's precision cap and push
    # DuckDB to double) — int64 ranks and values always fit
    ranked = d.select(
        *key_cols,
        v.cast("decimal(19,0)").alias("__x"),
        F.row_number().over(w).cast("decimal(19,0)").alias("__i"),
    )
    s = ranked.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__x").cast("double").alias("__sx"),
        F.sum(F.col("__i") * F.col("__x")).cast("double").alias("__srx"),
    )
    n = F.col("n").cast("double")
    g = (2.0 * F.col("__srx") - (n + 1.0) * F.col("__sx")) / (
        n * F.col("__sx")
    )
    return s.select(
        *key_cols,
        F.col("n").cast("bigint").alias("n"),
        F.when(F.col("__sx") > 0, F.round(g, 6) + F.lit(0.0))
        .otherwise(F.lit(0.0))
        .alias("gini6"),
    )


def proportion_ci(
    df: DataFrame,
    key_cols: list[str],
    flag_col: str,
    z: float = 1.959964,
) -> DataFrame:
    """Per-key success proportion with its WILSON score interval — the
    conversion-rate readout that stays sane at small n and extreme
    rates (a Wald interval collapses to width 0 at p̂ ∈ {0, 1}; Wilson
    never does):

        center = (p̂ + z²/2n) / (1 + z²/n)
        half   = z·√(p̂(1−p̂)/n + z²/4n²) / (1 + z²/n)

    ``flag_col`` is boolean (NULL rows excluded — an unknown outcome is
    neither success nor failure).  All inputs to the chain are exact
    integers plus the z literal, so the doubles are engine-identical;
    bounds ROUND to 6.

    Output: (*key_cols, n, successes, p6, lo6, hi6).

    100 TB: one map-side-combinable groupBy.
    """
    f = F.col(flag_col)
    d = df.filter(f.isNotNull())
    s = d.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(f, 1).otherwise(0)).cast("bigint").alias("successes"),
    )
    n = F.col("n").cast("double")
    p = F.col("successes") / n
    zz = float(z) * float(z)
    denom = 1.0 + F.lit(zz) / n
    center = (p + F.lit(zz) / (2.0 * n)) / denom
    half = (
        F.lit(float(z))
        * F.sqrt(p * (1.0 - p) / n + F.lit(zz) / (4.0 * n * n))
        / denom
    )
    return s.select(
        *key_cols,
        F.col("n").cast("bigint").alias("n"),
        "successes",
        F.round(p, 6).alias("p6"),
        # + 0.0: at p̂ ∈ {0, 1} one bound equals the center minus
        # itself — a −0.0 residual (the FIXTURES.md signed-zero trap)
        (F.round(center - half, 6) + F.lit(0.0)).alias("lo6"),
        (F.round(center + half, 6) + F.lit(0.0)).alias("hi6"),
    )


def kaplan_meier(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    key_cols: list[str],
) -> DataFrame:
    """Kaplan–Meier survival curve per key — the churn/retention
    estimator that handles CENSORING correctly (a subject still alive
    at its observed duration is information, not an event):

        S(t) = Π_{uᵢ ≤ t} (1 − dᵢ/nᵢ)

    over distinct EVENT times uᵢ, with nᵢ = subjects at risk (duration
    ≥ uᵢ) and dᵢ = events at uᵢ.  ``duration_col`` is an INTEGER time
    unit (days, weeks — asserted on the scan, the r8 integerized
    discipline); ``event_col`` boolean — True = event observed, False
    = censored at that duration; NULL durations/events are excluded.

    Determinism: risk sets and event counts are exact integers; the
    running product runs in LOG domain with each ln(1 − d/n)
    contribution ROUND-6 + decimal-summed (the vocab_kl discipline —
    a float product's order never varies, but engines' ln do at the
    last ulp), then one exp + ROUND-6.  A time where d = n drives
    survival to exactly 0.0 from then on (flagged, not ln(0)).

    Output: (*key_cols, t, n_risk, d, surv6) — one row per event time.

    100 TB: one (key, duration) groupBy compresses subjects to the
    per-key TIME-SIZED curve relation; the risk-set and product
    windows share that key partitioning — one exchange after the
    combine.  Per-key state is the distinct-duration count.
    """
    if not key_cols:
        raise ValueError("kaplan_meier needs key_cols (constant key for "
                         "a single conscious curve)")
    dur, ev = F.col(duration_col), F.col(event_col)
    d = df.filter(dur.isNotNull() & ev.isNotNull()).filter(
        F.assert_true(
            dur == F.floor(dur),
            F.lit(
                "kaplan_meier: duration must be an integer time unit "
                "(days, weeks) — integerize upstream"
            ),
        ).isNull()
    )
    per_t = d.groupBy(*key_cols, dur.cast("bigint").alias("t")).agg(
        F.sum(F.when(ev, 1).otherwise(0)).cast("bigint").alias("d"),
        F.count(F.lit(1)).cast("bigint").alias("leave"),
    )
    wk = Window.partitionBy(*key_cols).orderBy("t")
    wtot = Window.partitionBy(*key_cols)
    cum_prev = F.coalesce(
        F.sum("leave").over(wk.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0).cast("bigint"),
    )
    c = per_t.withColumn(
        "n_risk", F.sum("leave").over(wtot) - cum_prev
    )
    contrib = F.when(
        F.col("d") < F.col("n_risk"),
        (
            F.round(
                F.log(
                    1.0 - F.col("d") / F.col("n_risk").cast("double")
                ),
                6,
            )
            + F.lit(0.0)
        ).cast("decimal(20,6)"),
    ).otherwise(F.lit(None).cast("decimal(20,6)"))
    dead = F.when(F.col("d") >= F.col("n_risk"), 1).otherwise(0)
    wrun = wk.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    curve = (
        c.withColumn("__contrib", contrib)
        .withColumn("__dead", F.max(dead).over(wrun))
        .withColumn(
            "__logs",
            F.coalesce(
                F.sum("__contrib").over(wrun).cast("double"), F.lit(0.0)
            ),
        )
    )
    surv = F.when(F.col("__dead") == 1, F.lit(0.0)).otherwise(
        F.round(F.exp(F.col("__logs")), 6)
    )
    return (
        curve.filter(F.col("d") > 0)
        .select(*key_cols, "t", "n_risk", "d", surv.alias("surv6"))
    )


def logrank_test(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    group_col: str,
) -> DataFrame:
    """Log-rank test between TWO survival groups — "is the churn curve
    of cohort A different from cohort B", the hypothesis-test companion
    to :func:`kaplan_meier`:

        z = Σᵢ (d₁ᵢ − n₁ᵢ·dᵢ/nᵢ) / √Σᵢ vᵢ,
        vᵢ = dᵢ·(n₁ᵢ/nᵢ)·(1 − n₁ᵢ/nᵢ)·(nᵢ − dᵢ)/(nᵢ − 1)

    over distinct event times, with group 1 = the LEXICOGRAPHICALLY
    SMALLEST group value (a deterministic orientation; the statistic
    is symmetric up to sign).  Same input contract as kaplan_meier:
    integer durations (asserted), boolean events, NULLs excluded;
    exactly two non-NULL groups (asserted — k-group log-rank needs a
    chi-square over a vector, a different op).

    Determinism: risk sets and event counts exact integers; each
    time's O−E and v terms ROUND-6 + decimal-summed (the vocab_kl
    discipline), then one final IEEE divide/sqrt.  Times where
    nᵢ = 1 contribute zero variance (the nᵢ−1 denominator is
    guarded, not divided by zero).

    Output: ONE row (n, n_events, o_minus_e6, var6, z6).

    100 TB: one (group, duration) groupBy compresses subjects to the
    time-sized table; risk sets come from cumulative windows on the
    single constant-key curve partitioning — the relation is
    event-time-sized by then, a conscious bounded pass.
    """
    dur, ev, grp = F.col(duration_col), F.col(event_col), F.col(group_col)
    d = df.filter(
        dur.isNotNull() & ev.isNotNull() & grp.isNotNull()
    ).filter(
        F.assert_true(
            dur == F.floor(dur),
            F.lit(
                "logrank_test: duration must be an integer time unit"
            ),
        ).isNull()
    )
    per = d.groupBy(dur.cast("bigint").alias("t"), grp.alias("__g")).agg(
        F.sum(F.when(ev, 1).otherwise(0)).cast("bigint").alias("d"),
        F.count(F.lit(1)).cast("bigint").alias("leave"),
    )
    # exactly-two-groups contract, asserted via a 1-row broadcast (r13:
    # replaces the keyless collect_set/min windows — same tiny relation,
    # no WindowExec in the plan).  The assert predicate must stay
    # correct EVEN IF Catalyst pushes it below the crossJoin onto the
    # gstats side (it will, whenever the predicate is gstats-only): the
    # r13 `| __g.isNull()` form kept it join-side only while __g was
    # nullable, but NullPropagation folds isNull→false on a
    # non-nullable group column and the pushed gstats-only remnant then
    # fires "exactly two groups" on EMPTY input (r13 ADVICE, reproduced
    # with a non-nullable schema + AQE off).  Pushdown-safe by
    # construction instead: allow __ng == 0 — an empty per yields
    # __ng = 0 and no output rows regardless, so the relaxation never
    # lets a 1- or 3-group misuse through.
    gstats = per.agg(
        F.count_distinct(F.col("__g")).alias("__ng"),
        F.min("__g").alias("__g1"),
    )
    per = per.crossJoin(F.broadcast(gstats)).filter(
        F.assert_true(
            (F.col("__ng") == 2) | (F.col("__ng") == 0),
            F.lit("logrank_test: exactly two groups required"),
        ).isNull()
    )
    per = per.withColumn("__is1", (F.col("__g") == F.col("__g1")).cast("int"))
    byt = per.groupBy("t").agg(
        F.sum("d").alias("d_all"),
        F.sum("leave").alias("l_all"),
        F.sum(F.col("d") * F.col("__is1")).alias("d1"),
        F.sum(F.col("leave") * F.col("__is1")).alias("l1"),
    )
    # Risk-set walk as ONE in-task JVM `aggregate` fold over the
    # time-sorted array (r13 — the qdigest_quantiles shape): the byt
    # relation is event-time-sized, the same boundedness contract the
    # old keyless cumulative windows leaned on, but the fold plans a
    # map-side-combined collect_list instead of a single-partition
    # WindowExec (this was the last "No Partition Defined" source in
    # the bench tail).  At-risk counts come from the REMAINING totals:
    # n_all(t) = Σ l_all − prefix(l_all before t), walked downward.
    # t is unique in byt, so sort_array over struct(t, …) is the old
    # orderBy(t).  Decimal accumulators replicate F.sum(decimal(20,6))
    # → decimal(30,6) exactly (decimal addition is exact; only the
    # per-time ROUND-6 terms touch IEEE, the same chain as before).
    arr = byt.agg(
        F.sum("l_all").cast("bigint").alias("__tot_all"),
        F.sum("l1").cast("bigint").alias("__tot1"),
        F.sum("d_all").cast("bigint").alias("n_events"),
        F.sort_array(
            F.collect_list(F.struct("t", "d_all", "l_all", "d1", "l1"))
        ).alias("__ts"),
    )
    dec0 = F.lit(0).cast("decimal(30,6)")

    def _step(acc, x):
        n_all = acc["rem_all"].cast("double")
        n1 = acc["rem1"].cast("double")
        d_all = x["d_all"].cast("double")
        oe_t = (
            F.round(x["d1"] - n1 * d_all / n_all, 6) + F.lit(0.0)
        ).cast("decimal(20,6)")
        v_t = F.when(
            acc["rem_all"] > 1,
            (
                F.round(
                    d_all
                    * (n1 / n_all)
                    * (1.0 - n1 / n_all)
                    * (n_all - d_all)
                    / (n_all - 1.0),
                    6,
                )
                + F.lit(0.0)
            ).cast("decimal(20,6)"),
        ).otherwise(F.lit(0).cast("decimal(20,6)"))
        return F.struct(
            (acc["rem_all"] - x["l_all"]).cast("bigint").alias("rem_all"),
            (acc["rem1"] - x["l1"]).cast("bigint").alias("rem1"),
            (acc["oe"] + oe_t).cast("decimal(30,6)").alias("oe"),
            (acc["v"] + v_t).cast("decimal(30,6)").alias("v"),
        )

    # no event-time filter needed: at a censoring-only time d_all = 0
    # makes both the O−E term (d1 = 0, expectation 0) and the variance
    # term identically zero — summing every time keeps n = Σ leave
    # exact and the plan fully lazy (no driver-side count action)
    walk = F.aggregate(
        "__ts",
        F.struct(
            F.col("__tot_all").alias("rem_all"),
            F.col("__tot1").alias("rem1"),
            dec0.alias("oe"),
            dec0.alias("v"),
        ),
        _step,
    )
    # empty input: the old F.sum readouts were NULL, not 0 — keep that
    notnull = F.col("__tot_all").isNotNull()
    s = arr.select(
        F.col("__tot_all").alias("n"),
        "n_events",
        F.when(notnull, walk["oe"].cast("double")).alias("o_minus_e6"),
        F.when(notnull, walk["v"].cast("double")).alias("var6"),
    )
    return s.select(
        "n",
        "n_events",
        "o_minus_e6",
        "var6",
        F.when(
            F.col("var6") > 0,
            F.round(
                F.col("o_minus_e6") / F.sqrt(F.col("var6")), 6
            ),
        ).alias("z6"),
    )


def odds_ratio(
    df: DataFrame,
    exposure_col: str,
    outcome_col: str,
    z: float = 1.959964,
) -> DataFrame:
    """Odds ratio and relative risk for a 2×2 exposure/outcome table
    with Wald CIs in the log domain — the effect-SIZE companion to
    :func:`categorical_association`'s "is there an effect" chi²:

        OR = (a·d)/(b·c),  ln-CI half-width = z·√(1/a+1/b+1/c+1/d)
        RR = [a/(a+b)] / [c/(c+d)],  half = z·√(b/(a(a+b)) + d/(c(c+d)))

    with a = exposed∧outcome, b = exposed∧¬outcome, c = unexposed∧
    outcome, d = unexposed∧¬outcome.  Both columns boolean; NULL rows
    excluded.  Any EMPTY CELL returns NULL estimates (the classical
    statistics are undefined; add the Haldane 0.5 correction upstream
    if you want shrunk estimates — an explicit modeling choice, not a
    silent default).

    Determinism: four exact integer cells, one fixed IEEE/ln chain,
    estimates and bounds ROUND-6 (+0.0 — log-domain bounds cross
    zero).

    Output: ONE row (a, b, c, d, or6, or_lo6, or_hi6, rr6, rr_lo6,
    rr_hi6).

    100 TB: ONE conditional aggregation over one scan.
    """
    ex, oc = F.col(exposure_col), F.col(outcome_col)
    d0 = df.filter(ex.isNotNull() & oc.isNotNull())

    def cell(cond, name):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint").alias(name)

    s = d0.agg(
        cell(ex & oc, "a"),
        cell(ex & ~oc, "b"),
        cell(~ex & oc, "c"),
        cell(~ex & ~oc, "d"),
    )
    a, b, c, dd = (F.col(x).cast("double") for x in ("a", "b", "c", "d"))
    ok = (a > 0) & (b > 0) & (c > 0) & (dd > 0)
    lor = F.log(a * dd / (b * c))
    se_or = F.sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / dd)
    lrr = F.log((a / (a + b)) / (c / (c + dd)))
    se_rr = F.sqrt(b / (a * (a + b)) + dd / (c * (c + dd)))
    zz = F.lit(float(z))

    def r6(e):
        return F.round(e, 6) + F.lit(0.0)

    return s.select(
        "a", "b", "c", "d",
        F.when(ok, r6(F.exp(lor))).alias("or6"),
        F.when(ok, r6(F.exp(lor - zz * se_or))).alias("or_lo6"),
        F.when(ok, r6(F.exp(lor + zz * se_or))).alias("or_hi6"),
        F.when(ok, r6(F.exp(lrr))).alias("rr6"),
        F.when(ok, r6(F.exp(lrr - zz * se_rr))).alias("rr_lo6"),
        F.when(ok, r6(F.exp(lrr + zz * se_rr))).alias("rr_hi6"),
    )


def spearman_corr(
    df: DataFrame,
    key_cols: list[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-key Spearman rank correlation — the monotone-association
    companion to :func:`trend_fit`'s linear fit (outlier-robust,
    captures any monotone relation, the screening statistic for "does
    X order Y" on heavy-tailed metrics).

    Classic construction: average ranks within the key for x and for y
    (ties get the mean of their positions — the textbook tie handling),
    then the Pearson closed form over the rank pairs.  Determinism
    (oracle-hash discipline): average ranks are exact half-integer
    quanta, so the op carries DOUBLED ranks (always integers), sums
    the five moments as DECIMAL(38,0) (exact, order-free; scale-0
    single-rounds to double identically in both engines — the
    trend_fit recipe), and evaluates

        rho = (n·Σxy − Σx·Σy) / √((n·Σx² − (Σx)²) · (n·Σy² − (Σy)²))

    as ONE IEEE chain, ROUND-6.  Pearson is scale-invariant, so the
    doubling cancels.  Rows with NULL x or y are EXCLUDED (the r8 NULL
    discipline); keys where either side is constant (zero rank
    variance, incl. n=1) read NULL rho.

    Output: (*key_cols, n, rho6).

    100 TB: ONE exchange on the key — both rank windows and the tie
    counts run on the key partitioning (partitioning on a key subset
    satisfies every (key, value) window), then one map-side-combined
    groupBy reuses it.  Two in-partition sorts (one per ranked
    column), no join, no second pass.
    """
    if not key_cols:
        raise ValueError("spearman_corr needs at least one key column")
    x, y = F.col(x_col), F.col(y_col)
    d = df.filter(x.isNotNull() & y.isNotNull()).select(
        *key_cols, x.alias("__x"), y.alias("__y")
    ).repartition(*key_cols)

    def dbl_rank(col: str, out: str):
        """2·(average rank) = 2·min_rank + (ties − 1): an exact int."""
        wr = Window.partitionBy(*key_cols).orderBy(col)
        wt = Window.partitionBy(*key_cols, col)
        return (
            2 * F.rank().over(wr) + F.count(F.lit(1)).over(wt) - 1
        ).cast("bigint").alias(out)

    r = d.select(*key_cols, dbl_rank("__x", "__rx"), dbl_rank("__y", "__ry"))
    dec = "decimal(38,0)"
    rx, ry = F.col("__rx"), F.col("__ry")
    s = r.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(rx.cast(dec)).cast("double").alias("__sx"),
        F.sum(ry.cast(dec)).cast("double").alias("__sy"),
        F.sum((rx * rx).cast(dec)).cast("double").alias("__sxx"),
        F.sum((ry * ry).cast(dec)).cast("double").alias("__syy"),
        F.sum((rx * ry).cast(dec)).cast("double").alias("__sxy"),
    )
    n = F.col("n").cast("double")
    vx = n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    vy = n * F.col("__syy") - F.col("__sy") * F.col("__sy")
    cov = n * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    rho = F.when(
        (vx > 0) & (vy > 0), F.round(cov / F.sqrt(vx * vy), 6) + F.lit(0.0)
    )
    return s.select(*key_cols, "n", rho.alias("rho6"))


def _check_keys(keys: list[str], reserved: tuple[str, ...], op: str) -> None:
    """Grouped-stat key columns ride through to the readout, so a key
    named like an output statistic would emit two same-named columns —
    fail loudly instead (r10)."""
    clash = [k for k in keys if k in reserved]
    if clash:
        raise ValueError(
            f"{op}: key column(s) {clash} collide with the op's output "
            f"columns {reserved} — rename the key(s) upstream"
        )


def mann_whitney_u(
    df: DataFrame,
    group_col: str,
    value_col: str,
    keys: list[str] | None = None,
) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) for a boolean two-group
    split — the nonparametric alternative to :func:`ab_lift`'s t-test
    when the metric is heavy-tailed or ordinal: compares DISTRIBUTIONS
    via combined ranks, no normality assumption on the values.

        U₁ = R₁ − n₁(n₁+1)/2
        z  = (U₁ − n₁n₂/2) / √( n₁n₂/12 · ((N+1) − Σ(t³−t)/(N(N−1))) )

    with R₁ the group-1 sum of average ranks over the COMBINED sample
    and Σ(t³−t) the standard tie correction.  No continuity
    correction (documented; add ±0.5 upstream if you want the
    small-sample variant).  ``group_col`` must be boolean; NULL group
    or value rows are EXCLUDED.

    Determinism: doubled average ranks and tie counts are exact
    integers summed as DECIMAL(38,0) (the spearman_corr recipe); U and
    z are one IEEE chain each; z ROUND-6 (+0.0).  Either group empty,
    or every value tied (zero variance), reads NULL z; U₁/U₂ still
    report when both groups are present.

    Output: one row per key — (*keys, n1, n2, u1, u2, z6,
    cliffs_delta6); ONE row total when ``keys`` is empty.

    100 TB: with ``keys`` (the r9-verdict grouped form — one rank-sum
    test per segment, the relation that feeds :func:`bh_fdr` directly)
    everything runs on ONE key exchange: the rank window, the tie
    window, and both groupBys share the ``keys`` partitioning.  With
    no keys the rank window is a GLOBAL order — the combined sample is
    single-key by definition (one experiment readout, two groups);
    that keyless form stays a conscious single-test contract.
    """
    keys = list(keys or [])
    _check_keys(
        keys, ("n1", "n2", "u1", "u2", "z6", "cliffs_delta6"),
        "mann_whitney_u",
    )
    g, v = F.col(group_col), F.col(value_col)
    d = df.filter(g.isNotNull() & v.isNotNull()).select(
        *keys, g.cast("boolean").alias("__g"), v.alias("__v")
    )
    if keys:
        d = d.repartition(*keys)
    wr = Window.partitionBy(*keys).orderBy("__v")
    wt = Window.partitionBy(*keys, "__v")
    r = d.select(
        *keys,
        "__g",
        "__v",
        (2 * F.rank().over(wr) + F.count(F.lit(1)).over(wt) - 1)
        .cast("bigint")
        .alias("__r2"),
    )
    dec = "decimal(38,0)"
    s = (
        r.groupBy(*keys, "__v")
        .agg(
            F.count(F.lit(1)).alias("__t"),
            F.sum(F.when(F.col("__g"), F.col("__r2")).otherwise(0).cast(dec))
            .alias("__r2t"),
            F.sum(F.when(F.col("__g"), 1).otherwise(0)).alias("__n1v"),
        )
        .groupBy(*keys)
        .agg(
            F.sum(F.col("__n1v")).cast("bigint").alias("n1"),
            (F.sum("__t") - F.sum("__n1v")).cast("bigint").alias("n2"),
            F.sum("__r2t").cast("double").alias("__sr2"),
            F.sum((F.col("__t") * F.col("__t") * F.col("__t") - F.col("__t")).cast(dec))
            .cast("double")
            .alias("__ties"),
        )
    )
    n1, n2 = F.col("n1").cast("double"), F.col("n2").cast("double")
    nn = n1 + n2
    r1 = F.col("__sr2") / 2.0
    u1 = r1 - n1 * (n1 + 1.0) / 2.0
    u2 = n1 * n2 - u1
    var = (n1 * n2 / 12.0) * (
        (nn + 1.0) - F.col("__ties") / (nn * (nn - 1.0))
    )
    z = F.when(
        (F.col("n1") > 0) & (F.col("n2") > 0) & (var > 0),
        F.round((u1 - n1 * n2 / 2.0) / F.sqrt(var), 6) + F.lit(0.0),
    )
    both = (F.col("n1") > 0) & (F.col("n2") > 0)
    # Cliff's delta — the U-derived EFFECT SIZE the z lacks (how often
    # does group 1 exceed group 2, scaled to [−1, 1]; ties half-count):
    # δ = 2·U₁/(n₁n₂) − 1.  Reported alongside so a significant-but-
    # tiny effect is visible at readout time.
    delta = F.when(
        both, F.round(2.0 * u1 / (n1 * n2) - 1.0, 6) + F.lit(0.0)
    )
    return s.select(
        *keys,
        "n1",
        "n2",
        F.when(both, u1).alias("u1"),
        F.when(both, u2).alias("u2"),
        z.alias("z6"),
        delta.alias("cliffs_delta6"),
    )


#: 1/√(2π) as the exact double literal — shared by the Spark chain and
#: any oracle SQL so both engines start from the identical constant.
_INV_SQRT_2PI = 0.3989422804014327


def normal_two_sided_p(z) -> Column:
    """Two-sided normal p-value from a z statistic — the bridge from
    :func:`mann_whitney_u`'s z6 readout to :func:`bh_fdr`'s p-value
    input, built WITHOUT scipy: the Abramowitz–Stegun 26.2.17
    polynomial for the upper tail,

        t    = 1/(1 + 0.2316419·|z|)
        Q(z) = φ(z)·t·(b₁ + t·(b₂ + t·(b₃ + t·(b₄ + t·b₅))))
        p    = min(1, 2·Q(|z|))

    with |abs err| < 7.5e-8 — two orders below the ROUND-6 readout
    quantum, so the approximation never moves a rounded digit except
    at an exact .5e-6 boundary (measure-zero on continuous z).

    Determinism: the chain is +, *, /, exp only, written in one fixed
    association that an oracle SQL can replay token-for-token (the
    x_bh_fdr exp-only discipline); output ROUND-6 (+0.0).  NULL z
    reads NULL.
    """
    x = F.abs(z if isinstance(z, Column) else F.col(z))
    t = 1.0 / (1.0 + 0.2316419 * x)
    poly = t * (
        0.319381530
        + t
        * (
            -0.356563782
            + t * (1.781477937 + t * (-1.821255978 + t * 1.330274429))
        )
    )
    q = F.exp(-x * x / 2.0) * F.lit(_INV_SQRT_2PI) * poly
    # explicit NULL gate: least() SKIPS nulls (least(1.0, NULL) = 1.0),
    # which would silently turn a NULL z into p = 1
    return F.when(
        x.isNotNull(), F.round(F.least(F.lit(1.0), 2.0 * q), 6) + F.lit(0.0)
    )


def bh_fdr(
    df: DataFrame,
    p_col: str,
    family_cols: list[str] | None = None,
    alpha: float = 0.05,
) -> DataFrame:
    """Benjamini–Hochberg FDR adjustment over a relation of per-test
    p-values — the multiple-testing readout that belongs after any
    per-key test fan-out (per-segment lifts, per-source drift tests):

        q_(i) = min_{j ≥ i} ( p_(j) · m / j ) ∧ 1

    computed per ``family_cols`` group (or one global family).  Tie
    handling falls out of the suffix-min: equal p at different ranks
    collapse to the same q.  NULL p rows are EXCLUDED from m and get
    no verdict; p outside [0, 1] fails loudly (assert on the scan).

    Determinism: p·m/j is one IEEE chain per row; the running min is
    order-free over equal keys because (p, then arbitrary tiebreak)
    ordering feeds a MIN; q ROUND-6 (+0.0); reject = q6 ≤ alpha.

    Output: input columns + (m, q6, reject).

    100 TB: the test relation is #tests-sized BY CONSTRUCTION (each
    p-value already paid for its data upstream) — the per-family sort
    is over tests, not data.  With no family_cols the window is a
    conscious single partition of that tests-relation (the
    weighted_quantile constant-key discipline).
    """
    fam = list(family_cols or [])
    p = F.col(p_col)
    d = df.filter(
        F.assert_true(
            p.isNull() | p.between(0.0, 1.0),
            F.lit(f"bh_fdr: {p_col} must lie in [0, 1]"),
        ).isNull()
    )
    keep = d.filter(p.isNotNull())
    wm = Window.partitionBy(*fam) if fam else Window.partitionBy()
    wrk = (
        Window.partitionBy(*fam).orderBy(F.col(p_col).desc())
        if fam
        else Window.orderBy(F.col(p_col).desc())
    )
    ranked = keep.withColumn("m", F.count(F.lit(1)).over(wm)).withColumn(
        "__rk_desc", F.row_number().over(wrk)
    )
    # rank ascending = m − rk_desc + 1; suffix-min over p-ascending ==
    # running min over p-DESCENDING order (rowsBetween start..current)
    raw = p * F.col("m").cast("double") / (
        F.col("m") - F.col("__rk_desc") + 1
    ).cast("double")
    q = F.least(
        F.lit(1.0),
        F.min(raw).over(
            wrk.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    out = ranked.withColumn("q6", F.round(q, 6) + F.lit(0.0)).withColumn(
        "reject", F.col("q6") <= F.lit(float(alpha))
    )
    return out.drop("__rk_desc")


def kruskal_wallis(
    df: DataFrame,
    group_col: str,
    value_col: str,
    keys: list[str] | None = None,
) -> DataFrame:
    """Kruskal–Wallis H — the k-group extension of
    :func:`mann_whitney_u` (one-way ANOVA on ranks, no normality
    assumption): are the k groups' value distributions plausibly the
    same?

        H = [ 12/(N(N+1)) · Σ_j R_j²/n_j − 3(N+1) ] / C
        C = 1 − Σ(t³−t)/(N³−N)          (tie correction)

    with R_j the group's sum of average ranks over the combined sample.
    Compare H to χ²(k−1) downstream (no p-value here — the engine has
    no χ² CDF builtin and the statistic is the hash-stable part).

    NULL group or value rows are EXCLUDED.  Degenerate inputs read
    NULL h6: fewer than 2 groups, or every value tied (C = 0).

    Determinism: doubled average ranks and tie counts are exact
    integers (the spearman_corr recipe); per-group rank sums aggregate
    as DECIMAL(38,0); H is one IEEE chain ROUND-6.

    Output: one row per key — (*keys, k, n, h6); ONE row total when
    ``keys`` is empty.

    100 TB: with ``keys`` (the r9-verdict grouped form) the rank
    window, tie groupBy and rank-sum groupBy all share ONE ``keys``
    exchange, and the per-key tie totals join back on the same key —
    the readout relation feeds :func:`bh_fdr` directly.  With no keys
    the single-test contract of mann_whitney_u applies — one global
    rank window (one experiment readout) and a 1-row readout.
    """
    keys = list(keys or [])
    _check_keys(keys, ("k", "n", "h6"), "kruskal_wallis")
    g, v = F.col(group_col), F.col(value_col)
    d = df.filter(g.isNotNull() & v.isNotNull()).select(
        *keys, g.alias("__g"), v.alias("__v")
    )
    if keys:
        d = d.repartition(*keys)
    wr = Window.partitionBy(*keys).orderBy("__v")
    wt = Window.partitionBy(*keys, "__v")
    r = d.select(
        *keys,
        "__g",
        "__v",
        (2 * F.rank().over(wr) + F.count(F.lit(1)).over(wt) - 1)
        .cast("bigint")
        .alias("__r2"),
    )
    dec = "decimal(38,0)"
    per_g = r.groupBy(*keys, "__g").agg(
        F.count(F.lit(1)).cast("bigint").alias("__ng"),
        F.sum(F.col("__r2").cast(dec)).cast("double").alias("__sr2"),
    )
    ties = (
        r.groupBy(*keys, "__v")
        .agg(F.count(F.lit(1)).alias("__t"))
        .groupBy(*keys)
        .agg(
            F.sum(
                (F.col("__t") * F.col("__t") * F.col("__t") - F.col("__t"))
                .cast(dec)
            )
            .cast("double")
            .alias("__tt")
        )
    )
    s = per_g.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("__ng").cast("bigint").alias("n"),
        # Σ R_j²/n_j with R_j = sr2/2 (exact halves): one IEEE chain
        F.sum(
            (F.col("__sr2") / 2.0) * (F.col("__sr2") / 2.0)
            / F.col("__ng").cast("double")
        ).alias("__srn"),
    )
    # both sides are #keys-sized readout relations; keyless → 1×1 cross
    s = s.join(F.broadcast(ties), keys) if keys else s.crossJoin(
        F.broadcast(ties)
    )
    nn = F.col("n").cast("double")
    raw = 12.0 / (nn * (nn + 1.0)) * F.col("__srn") - 3.0 * (nn + 1.0)
    corr = 1.0 - F.col("__tt") / (nn * nn * nn - nn)
    h = F.when(
        (F.col("k") >= 2) & (corr > 0),
        F.round(raw / corr, 6) + F.lit(0.0),
    )
    return s.select(*keys, "k", "n", h.alias("h6"))


def brown_forsythe(
    df: DataFrame,
    group_col: str,
    value_col: str,
    keys: list[str] | None = None,
) -> DataFrame:
    """Brown–Forsythe equality-of-variances test — "did the SPREAD
    change", the companion question to the location tests
    (:func:`mann_whitney_u` / :func:`kruskal_wallis` ask about the
    center): one-way ANOVA on the absolute deviations from each
    group's MEDIAN,

        z_ij = |v_ij − median_j|
        W = [(N−k)/(k−1)] · Σ n_j (z̄_j − z̄)² / Σ Σ (z_ij − z̄_j)²

    (Levene's test with the median center — robust to heavy tails,
    the variant recommended by the NIST handbook).  Compare W to
    F(k−1, N−k) downstream.  Median = the ceil(n/2)-th order statistic
    (the winsorize convention — an observed value, tie-invariant).

    NULL group or value rows are EXCLUDED.  Degenerate inputs read
    NULL w6: fewer than 2 groups, N ≤ k (no within-group df), or zero
    within-group deviation spread.

    Determinism: medians are observed values; the z deviations are one
    subtraction + abs each; sums of z and z² go through DECIMAL(38,6)
    (exact for few-decimal metrics — the ab_lift scale discipline);
    W is one IEEE chain ROUND-6.

    Output: one row per key — (*keys, k, n, w6); ONE row total when
    ``keys`` is empty (the single-test readout contract).

    100 TB: ONE exchange on (*keys, group) — the median rank window,
    the deviation pass, and the per-group moment aggregation share it
    (a (*keys, group) partitioning satisfies the per-key fold too);
    the per-key readout is a broadcastable final fold that feeds
    :func:`bh_fdr` directly in the grouped form (r9 verdict).
    """
    keys = list(keys or [])
    _check_keys(keys, ("k", "n", "w6"), "brown_forsythe")
    g, v = F.col(group_col), F.col(value_col)
    d = df.filter(g.isNotNull() & v.isNotNull()).select(
        *keys, g.alias("__g"), v.alias("__v")
    ).repartition(*keys, "__g")
    w = Window.partitionBy(*keys, "__g").orderBy("__v")
    ranked = d.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__n", F.count(F.lit(1)).over(Window.partitionBy(*keys, "__g"))
    )
    med = (
        ranked.withColumn(
            "__kmed",
            F.ceil(F.col("__n").cast("double") / 2.0).cast("int"),
        )
        .groupBy(*keys, "__g")
        .agg(F.min(F.when(F.col("__rn") == F.col("__kmed"), F.col("__v"))).alias("__med"))
    )
    dec = "decimal(38,6)"
    z = F.abs(F.col("__v") - F.col("__med"))
    per_g = (
        d.join(med, [*keys, "__g"])
        .select(*keys, "__g", z.alias("__z"))
        .groupBy(*keys, "__g")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("__ng"),
            F.sum(F.col("__z").cast(dec)).cast("double").alias("__sz"),
            F.sum((F.col("__z") * F.col("__z")).cast(dec))
            .cast("double")
            .alias("__szz"),
        )
    )
    s = per_g.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("__ng").cast("bigint").alias("n"),
        F.sum("__sz").alias("__tz"),
        # between-group numerator pieces: Σ sz_j²/n_j and within-group
        # SS per group: szz_j − sz_j²/n_j — both from the same moments
        F.sum(
            F.col("__sz") * F.col("__sz") / F.col("__ng").cast("double")
        ).alias("__szn"),
        F.sum(
            F.col("__szz")
            - F.col("__sz") * F.col("__sz") / F.col("__ng").cast("double")
        ).alias("__ssw"),
    )
    nn, kk = F.col("n").cast("double"), F.col("k").cast("double")
    ssb = F.col("__szn") - F.col("__tz") * F.col("__tz") / nn
    wstat = F.when(
        (F.col("k") >= 2) & (F.col("n") > F.col("k")) & (F.col("__ssw") > 0),
        F.round(((nn - kk) / (kk - 1.0)) * ssb / F.col("__ssw"), 6)
        + F.lit(0.0),
    )
    return s.select(*keys, "k", "n", wstat.alias("w6"))


def anova_f(
    df: DataFrame,
    group_col: str,
    value_col: str,
    keys: list[str] | None = None,
) -> DataFrame:
    """One-way ANOVA F — the PARAMETRIC omnibus location test
    completing the k-group family (:func:`kruskal_wallis` is its
    rank-based twin; :func:`brown_forsythe` is literally this ANOVA
    applied to |v − median| — the shared skeleton is deliberate):

        F = [(N−k)/(k−1)] · SSB / SSW
        SSB = Σ_j s_j²/n_j − S²/N,   SSW = Σ_j (q_j − s_j²/n_j)

    with s_j = Σ v, q_j = Σ v² per group.  Compare F to F(k−1, N−k)
    downstream (no p-value — no F CDF builtin; the statistic is the
    hash-stable part, the kruskal_wallis contract).

    NULL group or value rows are EXCLUDED.  Degenerate inputs read
    NULL f6: fewer than 2 groups, N ≤ k, or zero within-group spread.

    Determinism: Σv and Σv² go through DECIMAL(38,6) (exact for
    few-decimal metrics — the ab_lift scale discipline); F is one IEEE
    chain ROUND-6.

    Output: one row per key — (*keys, k, n, f6); ONE row total when
    ``keys`` is empty (the single-test readout contract).

    100 TB: ONE exchange on (*keys, group) — the per-group moment
    aggregation is map-side combined; the per-key readout is a
    broadcastable fold that feeds :func:`bh_fdr` directly in the
    grouped form.
    """
    keys = list(keys or [])
    _check_keys(keys, ("k", "n", "f6"), "anova_f")
    g, v = F.col(group_col), F.col(value_col)
    d = df.filter(g.isNotNull() & v.isNotNull()).select(
        *keys, g.alias("__g"), v.alias("__v")
    )
    dec = "decimal(38,6)"
    per_g = d.groupBy(*keys, "__g").agg(
        F.count(F.lit(1)).cast("bigint").alias("__ng"),
        F.sum(F.col("__v").cast(dec)).cast("double").alias("__sv"),
        F.sum((F.col("__v") * F.col("__v")).cast(dec))
        .cast("double")
        .alias("__svv"),
    )
    s = per_g.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("__ng").cast("bigint").alias("n"),
        F.sum("__sv").alias("__tv"),
        F.sum(
            F.col("__sv") * F.col("__sv") / F.col("__ng").cast("double")
        ).alias("__svn"),
        F.sum(
            F.col("__svv")
            - F.col("__sv") * F.col("__sv") / F.col("__ng").cast("double")
        ).alias("__ssw"),
    )
    nn, kk = F.col("n").cast("double"), F.col("k").cast("double")
    ssb = F.col("__svn") - F.col("__tv") * F.col("__tv") / nn
    fstat = F.when(
        (F.col("k") >= 2) & (F.col("n") > F.col("k")) & (F.col("__ssw") > 0),
        F.round(((nn - kk) / (kk - 1.0)) * ssb / F.col("__ssw"), 6)
        + F.lit(0.0),
    )
    return s.select(*keys, "k", "n", fstat.alias("f6"))


def welch_ttest(
    df: DataFrame,
    group_col: str,
    value_col: str,
    keys: list[str] | None = None,
) -> DataFrame:
    """Welch's two-sample t-test over EXPLICIT group labels — "are
    these two labeled cohorts' means plausibly equal", the parametric
    companion to :func:`mann_whitney_u` (:func:`ab_lift` answers the
    same question but ASSIGNS its variants by hashing; this one takes
    the cohorts as found):

        t = (m_a − m_b) / √(v_a/n_a + v_b/n_b)
        dof = (v_a/n_a + v_b/n_b)² /
              [ (v_a/n_a)²/(n_a−1) + (v_b/n_b)²/(n_b−1) ]

    with v the SAMPLE variance (Welch–Satterthwaite dof; compare t to
    t(dof) downstream — no t CDF builtin, same contract as the other
    statistics; for the large-n normal approximation feed t6 to
    normal_two_sided_p).

    Group identity is deterministic: ``group_a`` is the SMALLER label
    in natural order, ``group_b`` the larger — label arrival order
    cannot flip the sign of t.

    NULL group or value rows are EXCLUDED.  Degenerate inputs read
    NULL t6/dof6: group count ≠ 2, either n < 2, or zero pooled SE.

    Output: one row per key —
    (*keys, group_a, group_b, n_a, n_b, t6, dof6).

    100 TB: ONE exchange on (*keys, group) for the moment fold; the
    two-row-per-key readout pivots with a key-partition window over a
    #keys-sized relation.
    """
    keys = list(keys or [])
    _check_keys(
        keys, ("group_a", "group_b", "n_a", "n_b", "t6", "dof6"),
        "welch_ttest",
    )
    g, v = F.col(group_col), F.col(value_col)
    d = df.filter(g.isNotNull() & v.isNotNull()).select(
        *keys, g.alias("__g"), v.alias("__v")
    )
    dec = "decimal(38,6)"
    per_g = d.groupBy(*keys, "__g").agg(
        F.count(F.lit(1)).cast("bigint").alias("__ng"),
        F.sum(F.col("__v").cast(dec)).cast("double").alias("__sv"),
        F.sum((F.col("__v") * F.col("__v")).cast(dec))
        .cast("double")
        .alias("__svv"),
    )
    wg = Window.partitionBy(*keys).orderBy("__g")
    ranked = per_g.withColumn("__rn", F.row_number().over(wg))

    def pick(rn: int, col: str):
        return F.max(F.when(F.col("__rn") == rn, F.col(col)))

    s = ranked.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("bigint").alias("__k"),
        pick(1, "__g").alias("group_a"),
        pick(2, "__g").alias("group_b"),
        pick(1, "__ng").alias("n_a"),
        pick(2, "__ng").alias("n_b"),
        pick(1, "__sv").alias("__sva"),
        pick(2, "__sv").alias("__svb"),
        pick(1, "__svv").alias("__qa"),
        pick(2, "__svv").alias("__qb"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    ma, mb = F.col("__sva") / na, F.col("__svb") / nb
    va = (F.col("__qa") - F.col("__sva") * F.col("__sva") / na) / (na - 1.0)
    vb = (F.col("__qb") - F.col("__svb") * F.col("__svb") / nb) / (nb - 1.0)
    sa, sb = va / na, vb / nb
    se2 = sa + sb
    ok = (
        (F.col("__k") == 2)
        & (F.col("n_a") >= 2)
        & (F.col("n_b") >= 2)
        & (se2 > 0)
    )
    t = F.when(ok, F.round((ma - mb) / F.sqrt(se2), 6) + F.lit(0.0))
    dof = F.when(
        ok,
        F.round(
            se2 * se2 / (sa * sa / (na - 1.0) + sb * sb / (nb - 1.0)), 6
        )
        + F.lit(0.0),
    )
    return s.select(
        *keys, "group_a", "group_b", "n_a", "n_b",
        t.alias("t6"), dof.alias("dof6"),
    )


def fisher_exact(
    df: DataFrame,
    exposure_col: str,
    outcome_col: str,
    max_n: int = 2_000_000,
    keys: list[str] | None = None,
) -> DataFrame:
    """Fisher's EXACT test for a 2×2 exposure/outcome table — the
    small-margin companion to :func:`categorical_association`'s chi²
    (which is asymptotic and unreliable when any expected cell is
    small) and :func:`odds_ratio` (whose Wald CI needs all cells > 0):

        pmf(k) = C(r1, k)·C(r2, c1−k) / C(n, c1)
        p_two  = Σ_{k: pmf(k) ≤ pmf(a)·(1+1e−7)} pmf(k)

    with a/b/c/d the observed cells, r1/r2 row margins, c1 the first
    column margin (the hypergeometric law of cell a under fixed
    margins); the 1e−7 relative tolerance is the standard guard for
    IEEE ties at pmf equality.  One-sided tails also emitted
    (p_less = P(K ≤ a), p_greater = P(K ≥ a)).

    Built DISTRIBUTIVELY, no scipy/driver math: ln-factorials come
    from a cumulative ln window over a generated ``range(1, n)``
    relation sized by a one-aggregate pre-count of the cells table
    (lnfact(i) = Σ_{j≤i} ln j — a sequential fold, so the doubles are
    engine-identical), the k-terms are a relation joined 6× against
    that broadcast table, and the tail sums are exact DECIMAL(22,12)
    folds of ROUND-12 terms (the vocab_kl discipline — summation
    order can never reorder floats).

    Contracts: boolean columns, NULL rows EXCLUDED; TOTAL n (across
    every key) is asserted ≤ ``max_n`` LOUDLY on the 1-row pre-count
    BEFORE any data-sized pass (r13 verdict #6 — the lnfact table is
    n-sized and broadcast; an exact test on larger n is statistically
    pointless — use chi²).  The only global window is the n-sized
    (≤ max_n, contract-bounded) cumulative lnfact fold.  Empty input
    or an empty margin reads p = 1 (the degenerate table carries no
    evidence).

    Output: ONE row (a, b, c, d, p_two6, p_less6, p_greater6), or one
    row per key — (*keys, a, …, p_greater6) — in the grouped form
    (r9 verdict: the per-key readout feeds :func:`bh_fdr` directly).
    The grouped form shares the single global lnfact table (per-key n
    ≤ total n, so every index resolves) and keys the k-expansion,
    lookups, and tail folds.
    """
    keys = list(keys or [])
    _check_keys(
        keys,
        ("a", "b", "c", "d", "p_two6", "p_less6", "p_greater6"),
        "fisher_exact",
    )
    ex, oc = F.col(exposure_col), F.col(outcome_col)
    d0 = df.filter(ex.isNotNull() & oc.isNotNull()).select(
        *keys, ex.cast("boolean").alias("__e"), oc.cast("boolean").alias("__o")
    )

    def cell(cond, name):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint").alias(name)

    e, o = F.col("__e"), F.col("__o")
    cells = d0.groupBy(*keys).agg(
        cell(e & o, "a"),
        cell(e & ~o, "b"),
        cell(~e & o, "c"),
        cell(~e & ~o, "d"),
    )
    # ln-factorial table 0..n, sized by a ONE-AGGREGATE pre-count of the
    # cells relation joined against a generated range (r13 verdict #6:
    # the old row_number-over-the-data ladder single-partitioned the
    # FULL input before its own max_n assert could fire, so a misuse on
    # a 10B-row frame paid a data-sized shuffle before failing).  Now
    # the guard rides a 1-row broadcast — it fires whether or not
    # Catalyst pushes it, and the only remaining global window is the
    # n-sized (≤ max_n, contract-bounded) cumulative lnfact fold below.
    # Float identity: lnfact(i) is the same sequential Σ ln j fold in
    # the same order, so the doubles are unchanged.
    nrel = cells.agg(
        F.coalesce(
            F.sum(F.col("a") + F.col("b") + F.col("c") + F.col("d")),
            F.lit(0),
        ).cast("bigint").alias("__n")
    )
    ints = (
        d0.sparkSession.range(1, int(max_n) + 1)
        .select(F.col("id").cast("bigint").alias("i"))
        .crossJoin(F.broadcast(nrel))
        .filter(
            F.assert_true(
                F.col("__n") <= int(max_n),
                F.lit(
                    f"fisher_exact: n exceeds max_n={max_n} — the exact "
                    "test is margin-bounded by design; use "
                    "categorical_association (chi-square) at this size"
                ),
            ).isNull()
        )
        .filter(F.col("i") <= F.col("__n"))
        .select("i")
    )
    lf = ints.withColumn(
        "lf",
        F.sum(F.log(F.col("i").cast("double"))).over(
            Window.orderBy("i").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ),
    ).unionByName(
        d0.sparkSession.range(1).select(
            F.lit(0).cast("bigint").alias("i"), F.lit(0.0).alias("lf")
        )
    )
    # the table feeds SEVEN broadcast lookups — checkpoint it or the
    # scan + global window recompute per broadcast (measured 28 s → 3 s
    # at n = 10k)
    lf = checkpoint(lf)
    lfb = F.broadcast(lf)

    m = cells.select(
        *keys,
        "a", "b", "c", "d",
        (F.col("a") + F.col("b")).alias("r1"),
        (F.col("c") + F.col("d")).alias("r2"),
        (F.col("a") + F.col("c")).alias("c1"),
        (F.col("a") + F.col("b") + F.col("c") + F.col("d")).alias("n"),
    )
    ks = (
        lfb.select(F.col("i").alias("__k"))  # 0..n (lf carries the 0 row)
        .crossJoin(F.broadcast(m))
        .filter(
            (F.col("__k") >= F.greatest(F.lit(0), F.col("c1") - F.col("r2")))
            & (F.col("__k") <= F.least(F.col("r1"), F.col("c1")))
        )
    )

    # lnfact lookups via broadcast joins on computed indices
    def lookup(rel, idx_col, out):
        side = lf.select(
            F.col("i").alias(f"__i{out}"), F.col("lf").alias(out)
        )
        return rel.join(
            F.broadcast(side), rel[idx_col] == F.col(f"__i{out}"), "inner"
        ).drop(f"__i{out}")

    ks = ks.withColumn("__x1", F.col("r1")).withColumn(
        "__x2", F.col("__k")
    ).withColumn("__x3", F.col("r1") - F.col("__k")).withColumn(
        "__x4", F.col("r2")
    ).withColumn("__x5", F.col("c1") - F.col("__k")).withColumn(
        "__x6", F.col("r2") - F.col("c1") + F.col("__k")
    )
    for i, nm in ((1, "lf_r1"), (2, "lf_k"), (3, "lf_r1k"),
                  (4, "lf_r2"), (5, "lf_c1k"), (6, "lf_r2c1k")):
        ks = lookup(ks, f"__x{i}", nm)
    denom = lookup(
        lookup(
            lookup(m.withColumn("__x7", F.col("n"))
                    .withColumn("__x8", F.col("c1"))
                    .withColumn("__x9", F.col("n") - F.col("c1")),
                   "__x7", "lf_n"),
            "__x8", "lf_c1"),
        "__x9", "lf_nc1",
    ).select(
        *keys,
        (F.col("lf_n") - F.col("lf_c1") - F.col("lf_nc1")).alias("__lden"),
    )
    pmf = F.exp(
        F.col("lf_r1") - F.col("lf_k") - F.col("lf_r1k")
        + F.col("lf_r2") - F.col("lf_c1k") - F.col("lf_r2c1k")
        - F.col("__lden")
    )
    ksd = (
        ks.join(F.broadcast(denom), keys)
        if keys
        else ks.crossJoin(F.broadcast(denom))
    )
    terms = ksd.select(
        *keys,
        "__k", "a",
        F.round(pmf, 12).cast("decimal(22,12)").alias("__pmf"),
    )
    obs = terms.filter(F.col("__k") == F.col("a")).select(
        *keys, F.col("__pmf").alias("__pobs")
    )
    tj = (
        terms.join(F.broadcast(obs), keys)
        if keys
        else terms.crossJoin(F.broadcast(obs))
    )
    agg = tj.groupBy(*keys).agg(
        F.sum(
            F.when(
                F.col("__pmf").cast("double")
                <= F.col("__pobs").cast("double") * (1.0 + 1e-7),
                F.col("__pmf"),
            )
        ).cast("double").alias("__p2"),
        F.sum(F.when(F.col("__k") <= F.col("a"), F.col("__pmf")))
        .cast("double")
        .alias("__pl"),
        F.sum(F.when(F.col("__k") >= F.col("a"), F.col("__pmf")))
        .cast("double")
        .alias("__pg"),
    )

    def clamp6(c):
        return F.round(F.least(F.lit(1.0), c), 6) + F.lit(0.0)

    joined = (
        cells.join(F.broadcast(agg), keys, "left")
        if keys
        else cells.crossJoin(F.broadcast(agg))
    )
    return joined.select(
        *keys,
        "a", "b", "c", "d",
        F.coalesce(clamp6(F.col("__p2")), F.lit(1.0)).alias("p_two6"),
        F.coalesce(clamp6(F.col("__pl")), F.lit(1.0)).alias("p_less6"),
        F.coalesce(clamp6(F.col("__pg")), F.lit(1.0)).alias("p_greater6"),
    )


#: standard normal quantiles at 6 dp — the public z-table values every
#: power calculator uses; restricting alpha/power to these keeps the
#: op free of an inverse-normal-CDF approximation that two engines
#: would have to replicate bit-for-bit.
_ALPHA_Z = {0.10: 1.644854, 0.05: 1.959964, 0.01: 2.575829}
_POWER_Z = {0.80: 0.841621, 0.90: 1.281552, 0.95: 1.644854}


def ab_power_mde(
    df: DataFrame,
    group_col: str,
    value_col: str,
    alpha: float = 0.05,
    power: float = 0.80,
    keys: list[str] | None = None,
) -> DataFrame:
    """A/B experiment sizing from observed cohorts — the planning
    companion to :func:`welch_ttest`: given two labeled groups, what
    effect could this experiment detect, and how many subjects per arm
    would the OBSERVED effect need?

        mde       = (z_{1−α/2} + z_{power}) · √(v_a/n_a + v_b/n_b)
        n_per_arm = ⌈(z_{1−α/2} + z_{power})² · (v_a + v_b) / δ²⌉

    with v the sample variances, δ = |m_a − m_b| the observed absolute
    effect, and z from the standard two-sided normal table (the public
    6-dp constants; ``alpha`` ∈ {0.10, 0.05, 0.01} and ``power`` ∈
    {0.80, 0.90, 0.95} are enforced — supporting arbitrary levels
    would require an inverse-normal approximation both engines would
    have to replicate bit-for-bit, an avoidable divergence surface).

    Group identity is deterministic (group_a = smaller label, the
    welch_ttest convention).  NULL group/value rows are EXCLUDED.
    Degenerate inputs read NULL: group count ≠ 2 or either n < 2
    NULLs everything; ``mde_rel6`` additionally NULLs when m_a = 0 and
    ``n_per_arm`` when δ = 0 (no observed effect to size against).

    Output: one row per key — (*keys, group_a, group_b, n_a, n_b,
    mde6, mde_rel6, n_per_arm).

    100 TB: identical physical shape to welch_ttest — ONE exchange on
    (*keys, group) for the exact decimal moment fold; the readout is a
    #keys-sized relation.
    """
    a, pw = round(float(alpha), 2), round(float(power), 2)
    if a not in _ALPHA_Z:
        raise ValueError(
            f"ab_power_mde: alpha must be one of {sorted(_ALPHA_Z)}, got "
            f"{alpha} (see docstring for why the table is closed)"
        )
    if pw not in _POWER_Z:
        raise ValueError(
            f"ab_power_mde: power must be one of {sorted(_POWER_Z)}, got "
            f"{power} (see docstring for why the table is closed)"
        )
    z = _ALPHA_Z[a] + _POWER_Z[pw]
    keys = list(keys or [])
    _check_keys(
        keys,
        ("group_a", "group_b", "n_a", "n_b", "mde6", "mde_rel6", "n_per_arm"),
        "ab_power_mde",
    )
    g, v = F.col(group_col), F.col(value_col)
    d = df.filter(g.isNotNull() & v.isNotNull()).select(
        *keys, g.alias("__g"), v.alias("__v")
    )
    dec = "decimal(38,6)"
    per_g = d.groupBy(*keys, "__g").agg(
        F.count(F.lit(1)).cast("bigint").alias("__ng"),
        F.sum(F.col("__v").cast(dec)).cast("double").alias("__sv"),
        F.sum((F.col("__v") * F.col("__v")).cast(dec))
        .cast("double")
        .alias("__svv"),
    )
    wg = Window.partitionBy(*keys).orderBy("__g")
    ranked = per_g.withColumn("__rn", F.row_number().over(wg))

    def pick(rn: int, col: str):
        return F.max(F.when(F.col("__rn") == rn, F.col(col)))

    s = ranked.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("bigint").alias("__k"),
        pick(1, "__g").alias("group_a"),
        pick(2, "__g").alias("group_b"),
        pick(1, "__ng").alias("n_a"),
        pick(2, "__ng").alias("n_b"),
        pick(1, "__sv").alias("__sva"),
        pick(2, "__sv").alias("__svb"),
        pick(1, "__svv").alias("__qa"),
        pick(2, "__svv").alias("__qb"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    ma, mb = F.col("__sva") / na, F.col("__svb") / nb
    va = (F.col("__qa") - F.col("__sva") * F.col("__sva") / na) / (na - 1.0)
    vb = (F.col("__qb") - F.col("__svb") * F.col("__svb") / nb) / (nb - 1.0)
    se = F.sqrt(va / na + vb / nb)
    delta = F.abs(ma - mb)
    zl = F.lit(float(z))
    ok = (F.col("__k") == 2) & (F.col("n_a") >= 2) & (F.col("n_b") >= 2)
    return s.select(
        *keys,
        "group_a", "group_b", "n_a", "n_b",
        F.when(ok, F.round(zl * se, 6) + F.lit(0.0)).alias("mde6"),
        F.when(
            ok & (ma != 0.0),
            F.round(zl * se / F.abs(ma), 6) + F.lit(0.0),
        ).alias("mde_rel6"),
        F.when(
            ok & (delta > 0.0),
            F.ceil(zl * zl * (va + vb) / (delta * delta)).cast("bigint"),
        ).alias("n_per_arm"),
    )


def two_prop_ztest(
    df: DataFrame,
    group_col: str,
    success_col: str,
    keys: list[str] | None = None,
) -> DataFrame:
    """Two-proportion pooled z-test over EXPLICIT group labels — "do
    these two labeled cohorts convert at plausibly the same rate", the
    large-n normal companion to :func:`fisher_exact` (which is exact
    but needs a bounded cell; this one is pure closed-form count
    arithmetic and runs at any n) and the proportion sibling of
    :func:`welch_ttest`:

        p̂ = (s_a + s_b)/(n_a + n_b)
        z = (s_a/n_a − s_b/n_b) / √(p̂(1−p̂)(1/n_a + 1/n_b))

    with the two-sided p via :func:`normal_two_sided_p` fed from the
    ROUNDED z6 (the mann_whitney→bh_fdr replay discipline, so an
    oracle can reproduce p6 from z6 token-for-token).

    Group identity is deterministic: ``group_a`` is the SMALLER label
    in natural order (the :func:`welch_ttest` contract — arrival order
    cannot flip the sign of z).

    NULL group or success rows are EXCLUDED.  Degenerate keys read
    NULL z6/p6: group count ≠ 2, either n = 0, or pooled p̂ ∈ {0, 1}
    (zero variance).

    Output: one row per key —
    (*keys, group_a, group_b, n_a, n_b, s_a, s_b, z6, p6); ONE row
    total when ``keys`` is empty (the single-test readout contract).

    100 TB: ONE exchange on (*keys, group) for the count fold (map-side
    combined — counts only, no value state); the two-row-per-key pivot
    is a key-partition window over a #keys-sized relation, and the
    readout feeds :func:`bh_fdr` directly in the grouped form.
    """
    keys = list(keys or [])
    _check_keys(
        keys,
        ("group_a", "group_b", "n_a", "n_b", "s_a", "s_b", "z6", "p6"),
        "two_prop_ztest",
    )
    g, s = F.col(group_col), F.col(success_col)
    d = df.filter(g.isNotNull() & s.isNotNull()).select(
        *keys, g.alias("__g"), s.cast("boolean").cast("int").alias("__s")
    )
    per_g = d.groupBy(*keys, "__g").agg(
        F.count(F.lit(1)).cast("bigint").alias("__ng"),
        F.sum("__s").cast("bigint").alias("__sg"),
    )
    wg = Window.partitionBy(*keys).orderBy("__g")
    ranked = per_g.withColumn("__rn", F.row_number().over(wg))

    def pick(rn: int, col: str):
        return F.max(F.when(F.col("__rn") == rn, F.col(col)))

    agg = ranked.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("bigint").alias("__k"),
        pick(1, "__g").alias("group_a"),
        pick(2, "__g").alias("group_b"),
        pick(1, "__ng").alias("n_a"),
        pick(2, "__ng").alias("n_b"),
        pick(1, "__sg").alias("s_a"),
        pick(2, "__sg").alias("s_b"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    sa, sb = F.col("s_a").cast("double"), F.col("s_b").cast("double")
    pool = (sa + sb) / (na + nb)
    ok = (
        (F.col("__k") == 2)
        & (F.col("n_a") >= 1)
        & (F.col("n_b") >= 1)
        & (pool > 0.0)
        & (pool < 1.0)
    )
    z = F.when(
        ok,
        F.round(
            (sa / na - sb / nb)
            / F.sqrt(pool * (1.0 - pool) * (1.0 / na + 1.0 / nb)),
            6,
        )
        + F.lit(0.0),
    )
    out = agg.select(
        *keys, "group_a", "group_b", "n_a", "n_b", "s_a", "s_b",
        z.alias("z6"),
    )
    return out.withColumn("p6", normal_two_sided_p(F.col("z6")))


#: in-task Theil–Sen pair slopes from a sorted (x, y) struct array —
#: the recsys _PAIR_EXPR idiom: ordered pairs (i < j) generated inside
#: the task by higher-order array functions (no self-join, no second
#: exchange), equal-x pairs excluded per the Theil–Sen convention
_SLOPE_EXPR = (
    "flatten(transform(__pts, (p, ix) -> "
    "transform(filter(slice(__pts, ix + 2, size(__pts) - ix - 1), "
    "q -> q.__x <> p.__x), q -> (q.__y - p.__y) / (q.__x - p.__x))))"
)


def theil_sen(
    df: DataFrame,
    x_col: str,
    y_col: str,
    keys: list[str] | None = None,
    max_points_per_key: int = 200,
) -> DataFrame:
    """Theil–Sen robust slope per key — the median of all pairwise
    slopes (y_j − y_i)/(x_j − x_i), the estimator that tolerates ~29%
    contamination where :func:`trend_fit`'s OLS slope is dragged by a
    single extreme row (its robust companion, as :func:`mad_outliers`
    is to z-scores).

    Points per key are capped to the FIRST ``max_points_per_key``
    under the total (x, y) order (the recsys cap discipline:
    deterministic, SQL-mirrorable as QUALIFY row_number ≤ cap, and it
    bounds the pair stage at cap²/2 per key — Catalyst plans the rank
    filter as WindowGroupLimit so the sort retains only the cap-lowest
    rows per partition).  Pairs never leave the task: the sorted point
    array is built per key and slopes are generated in-task by
    higher-order array functions (the recsys _PAIR_EXPR idiom — no
    self-join).  Equal-x pairs are EXCLUDED (slope undefined), the
    standard Theil–Sen convention.

    The median is the LOWER median (order statistic at rank
    ⌈n/2⌉ under the slope order — the :func:`mad_outliers` discipline:
    an actual data element selected by integer rank arithmetic, no
    interpolation, so both engines pick bit-identical medians; the
    value at a rank is unique under value-order even with duplicate
    slopes).  Raw slopes order the selection; only the READOUT rounds
    (ROUND-6 + 0.0, one IEEE chain — the same division both engines
    compute from the same doubles).

    NULL x or y rows are EXCLUDED before the cap rank (the
    mad_outliers NULL discipline — NULLs sort first and would both
    shift the cap window and poison slopes).  Keys with no valid pair
    (fewer than 2 points, or all x equal) read NULL slope6.

    Output: one row per key — (*keys, n_points, n_pairs, slope6).

    100 TB: ONE exchange on the keys (the cap window, reused by the
    array build); the slope relation is ≤ cap²/2 per key and its
    median is a key-partition window — no all-pairs self-join, no
    keyless window, cap bounds task memory exactly as in recsys.
    """
    keys = list(keys or [])
    _check_keys(keys, ("n_points", "n_pairs", "slope6"), "theil_sen")
    if not keys:
        # single-readout form: constant key, dropped at the end — the
        # cap window then partitions on a literal, the documented
        # one-readout contract of the keyless grouped stats
        tagged = df.withColumn("__one", F.lit(1))
        out = theil_sen(tagged, x_col, y_col, ["__one"], max_points_per_key)
        return out.drop("__one")
    x, y = F.col(x_col), F.col(y_col)
    # internals carry the __-prefix discipline (two_prop_ztest's __g/__s)
    # so a key column named "x" or "y" cannot produce an ambiguous
    # duplicate — _check_keys only guards the OUTPUT names (r11 ADVICE)
    d = df.filter(x.isNotNull() & y.isNotNull()).select(
        *keys,
        x.cast("double").alias("__x"),
        y.cast("double").alias("__y"),
    )
    wc = Window.partitionBy(*keys).orderBy("__x", "__y")
    capped = (
        d.withColumn("__rn", F.row_number().over(wc))
        .filter(F.col("__rn") <= int(max_points_per_key))
    )
    base = (
        capped.groupBy(*keys)
        .agg(
            F.sort_array(F.collect_list(F.struct("__x", "__y"))).alias("__pts")
        )
        .select(
            *keys,
            F.size("__pts").cast("bigint").alias("n_points"),
            F.expr(_SLOPE_EXPR).alias("__slopes"),
        )
        .withColumn("n_pairs", F.size("__slopes").cast("bigint"))
    )
    slopes = base.select(*keys, F.explode("__slopes").alias("__s"))
    wm = Window.partitionBy(*keys).orderBy("__s")
    wk = Window.partitionBy(*keys)
    med = (
        slopes.withColumn("__rs", F.row_number().over(wm))
        .withColumn("__ns", F.count(F.lit(1)).over(wk))
        .filter(F.col("__rs") == F.expr("(__ns + 1) div 2"))
        .groupBy(*keys)
        .agg((F.round(F.min("__s"), 6) + F.lit(0.0)).alias("slope6"))
    )
    return base.select(*keys, "n_points", "n_pairs").join(
        F.broadcast(med), keys, "left"
    )


#: Mann–Kendall S in-task: signed pair comparisons over the sorted
#: point array (the theil_sen _SLOPE_EXPR idiom), folded to one bigint
#: — pairs never leave the task and nothing is exploded
_MK_S_EXPR = (
    "aggregate(flatten(transform(__pts, (p, ix) -> "
    "transform(slice(__pts, ix + 2, size(__pts) - ix - 1), "
    "q -> CASE WHEN q.__y > p.__y THEN 1L "
    "WHEN q.__y < p.__y THEN -1L ELSE 0L END))), 0L, (a, s) -> a + s)"
)

#: tie-correction term Σ t·(t−1)·(2t+5) over the distinct y values of
#: the capped point array — O(distinct · n) in-task work, bounded by
#: the cap² the pair stage already pays
_MK_TIE_EXPR = (
    "aggregate(transform(array_distinct(transform(__pts, p -> p.__y)), "
    "v -> CAST(size(filter(transform(__pts, p -> p.__y), e -> e = v)) "
    "AS BIGINT)), 0L, (acc, t) -> acc + t * (t - 1) * (2 * t + 5))"
)


def mann_kendall(
    df: DataFrame,
    x_col: str,
    y_col: str,
    keys: list[str] | None = None,
    max_points_per_key: int = 200,
) -> DataFrame:
    """Mann–Kendall trend test per key — the nonparametric
    significance companion to :func:`theil_sen` (same sequence, same
    cap discipline): S = Σ_{i<j} sgn(y_j − y_i) over the points in
    (x, y) sequence order, with the tie-corrected normal
    approximation (Mann 1945; Kendall 1975; the Hirsch–Slack form
    used for hydrologic trend monitoring)

        Var(S) = [n(n−1)(2n+5) − Σ_v t_v(t_v−1)(2t_v+5)] / 18
        z = (S − sgn(S)) / √Var(S)        (continuity-corrected)

    theil_sen answers "how steep", mann_kendall answers "is it a
    trend at all" — run on the same capped sequence they share one
    contract.

    Sequence order is the TOTAL (x, y) order (the theil_sen cap
    order): ties in the time index are ordered by value and counted
    as regular pairs, and the tie correction is over y values only —
    the common implementation convention (pair semantics differ from
    theil_sen's equal-x EXCLUSION because sgn is defined where a
    slope is not).  Points per key capped to the FIRST
    ``max_points_per_key`` under that order (SQL-mirrorable as
    QUALIFY row_number ≤ cap); NULL x or y excluded before the cap
    rank.

    Determinism: S, n and the variance NUMERATOR var_num =
    n(n−1)(2n+5) − Σt(t−1)(2t+5) are exact integers (the readout
    carries var_num, not the /18 quotient); z is one IEEE chain
    ROUND-6 (+0.0); p6 via :func:`normal_two_sided_p`.  Keys with
    n < 2 or var_num = 0 (all y tied) read NULL z6/p6 — the test is
    undefined there, no convention invented.

    Output: one row per key — (*keys, n_points, s_stat, var_num,
    z6, p6).

    100 TB: ONE exchange on the keys (the cap window, reused by the
    array build); S and the tie term fold IN-TASK over the ≤cap-sized
    array (no pair explode, no self-join, no keyless window) — the
    readout relation is key-cardinality-sized.
    """
    keys = list(keys or [])
    _check_keys(
        keys, ("n_points", "s_stat", "var_num", "z6", "p6"), "mann_kendall"
    )
    if not keys:
        tagged = df.withColumn("__one", F.lit(1))
        out = mann_kendall(tagged, x_col, y_col, ["__one"],
                           max_points_per_key)
        return out.drop("__one")
    x, y = F.col(x_col), F.col(y_col)
    d = df.filter(x.isNotNull() & y.isNotNull()).select(
        *keys,
        x.cast("double").alias("__x"),
        y.cast("double").alias("__y"),
    )
    wc = Window.partitionBy(*keys).orderBy("__x", "__y")
    capped = (
        d.withColumn("__rn", F.row_number().over(wc))
        .filter(F.col("__rn") <= int(max_points_per_key))
    )
    base = (
        capped.groupBy(*keys)
        .agg(
            F.sort_array(F.collect_list(F.struct("__x", "__y"))).alias("__pts")
        )
        .select(
            *keys,
            F.size("__pts").cast("bigint").alias("n_points"),
            F.expr(_MK_S_EXPR).alias("s_stat"),
            F.expr(_MK_TIE_EXPR).alias("__ties"),
        )
    )
    n = F.col("n_points")
    var_num = (n * (n - 1) * (2 * n + 5) - F.col("__ties")).cast("bigint")
    var_s = var_num.cast("double") / 18.0
    s = F.col("s_stat").cast("double")
    z_raw = F.when(F.col("s_stat") > 0, (s - 1.0) / F.sqrt(var_s)).when(
        F.col("s_stat") < 0, (s + 1.0) / F.sqrt(var_s)
    ).otherwise(F.lit(0.0))
    z6 = F.when(
        (n >= 2) & (var_num > 0), F.round(z_raw, 6) + F.lit(0.0)
    )
    out = base.select(
        *keys, "n_points", "s_stat", var_num.alias("var_num"),
        z6.alias("z6"),
    )
    return out.withColumn("p6", normal_two_sided_p(F.col("z6")))


def nelson_aalen(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    key_cols: list[str],
) -> DataFrame:
    """Nelson–Aalen cumulative hazard per key — the additive companion
    to :func:`kaplan_meier` (same censoring semantics, same risk-set
    relation; preferred when hazards are the modeling target or when
    d = n event times would drive the KM product to exactly 0):

        H(t) = Σ_{uᵢ ≤ t} dᵢ/nᵢ

    over distinct EVENT times, nᵢ = at-risk count, dᵢ = events at uᵢ.
    ``duration_col`` is an INTEGER time unit (asserted on the scan,
    the kaplan_meier contract); ``event_col`` boolean; NULLs excluded.

    Determinism: risk sets and event counts are exact integers; each
    dᵢ/nᵢ term is one ROUND-6 IEEE division decimal-summed in time
    order (the vocab_kl discipline), readout ROUND-6 (+0.0).  Unlike
    the KM product, d = n is a REGULAR term (adds 1), no flag needed.

    Output: (*key_cols, t, n_risk, d, haz6) — one row per event time.

    100 TB: identical shape to kaplan_meier — one (key, duration)
    groupBy compresses subjects to the per-key time-sized curve
    relation; the risk-set and running-sum windows share the key
    partitioning.
    """
    if not key_cols:
        raise ValueError("nelson_aalen needs key_cols (constant key for "
                         "a single conscious curve)")
    dur, ev = F.col(duration_col), F.col(event_col)
    d = df.filter(dur.isNotNull() & ev.isNotNull()).filter(
        F.assert_true(
            dur == F.floor(dur),
            F.lit(
                "nelson_aalen: duration must be an integer time unit "
                "(days, weeks) — integerize upstream"
            ),
        ).isNull()
    )
    per_t = d.groupBy(*key_cols, dur.cast("bigint").alias("t")).agg(
        F.sum(F.when(ev, 1).otherwise(0)).cast("bigint").alias("d"),
        F.count(F.lit(1)).cast("bigint").alias("leave"),
    )
    wk = Window.partitionBy(*key_cols).orderBy("t")
    wtot = Window.partitionBy(*key_cols)
    cum_prev = F.coalesce(
        F.sum("leave").over(wk.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0).cast("bigint"),
    )
    c = per_t.withColumn(
        "n_risk", F.sum("leave").over(wtot) - cum_prev
    )
    term = (
        F.round(F.col("d") / F.col("n_risk").cast("double"), 6)
        + F.lit(0.0)
    ).cast("decimal(20,6)")
    wrun = wk.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    curve = c.withColumn(
        "__h", F.sum(term).over(wrun).cast("double")
    )
    return curve.filter(F.col("d") > 0).select(
        *key_cols, "t", "n_risk", "d",
        (F.round(F.col("__h"), 6) + F.lit(0.0)).alias("haz6"),
    )


def mantel_haenszel(
    df: DataFrame,
    exposure_col: str,
    outcome_col: str,
    strata_col: str,
    keys: list[str] | None = None,
) -> DataFrame:
    """Mantel–Haenszel pooled odds ratio across strata — "does exposure
    associate with outcome once a confounder is held fixed", the
    stratified completion of the 2×2 family (:func:`odds_ratio` is the
    single-table form, :func:`fisher_exact` the exact test,
    :func:`two_prop_ztest` the unstratified rate comparison):

        OR_MH = Σᵢ aᵢdᵢ/nᵢ  /  Σᵢ bᵢcᵢ/nᵢ

    over per-stratum cells a (exposed ∧ outcome), b (exposed ∧ ¬),
    c (¬ ∧ outcome), d (¬ ∧ ¬), nᵢ the stratum total — the classic
    zero-cell-tolerant pooling (a stratum with an empty cell
    contributes 0 to one sum instead of an undefined ratio).

    NULL exposure, outcome, or stratum rows are EXCLUDED (the r8 NULL
    discipline).  Keys whose denominator sum is 0 read NULL or_mh6
    (no discordant pairs anywhere — association undefined).

    Determinism: cells are exact integers; each stratum's ad/n and
    bc/n terms are ONE IEEE division ROUND-6, summed as DECIMAL(20,6)
    (the vocab_kl discipline — stratum order can never reorder the
    float sum); the final ratio is one division ROUND-6 (+0.0 is
    unnecessary: both sums are ≥ 0 so −0.0 cannot arise, but applied
    anyway for uniformity).

    Output: one row per key — (*keys, n_strata, n, or_mh6); ONE row
    total when ``keys`` is empty.

    100 TB: ONE exchange on (*keys, stratum) for the conditional-count
    fold (map-side combined, counts only); the readout is a
    #keys-sized aggregation over the strata relation.
    """
    keys = list(keys or [])
    _check_keys(keys, ("n_strata", "n", "or_mh6"), "mantel_haenszel")
    e, o, s = F.col(exposure_col), F.col(outcome_col), F.col(strata_col)
    d = df.filter(e.isNotNull() & o.isNotNull() & s.isNotNull()).select(
        *keys,
        s.alias("__s"),
        e.cast("boolean").alias("__e"),
        o.cast("boolean").alias("__o"),
    )

    def cell(cond, name):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint").alias(name)

    per_s = d.groupBy(*keys, "__s").agg(
        cell(F.col("__e") & F.col("__o"), "a"),
        cell(F.col("__e") & ~F.col("__o"), "b"),
        cell(~F.col("__e") & F.col("__o"), "c"),
        cell(~F.col("__e") & ~F.col("__o"), "d"),
    )
    nn = (
        F.col("a") + F.col("b") + F.col("c") + F.col("d")
    ).cast("double")
    term = lambda x, y: (  # noqa: E731 — one fixed ROUND-6 IEEE chain
        F.round((F.col(x) * F.col(y)).cast("double") / nn, 6) + F.lit(0.0)
    ).cast("decimal(20,6)")
    agg = per_s.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
        F.sum(F.col("a") + F.col("b") + F.col("c") + F.col("d"))
        .cast("bigint")
        .alias("n"),
        F.sum(term("a", "d")).cast("double").alias("__num"),
        F.sum(term("b", "c")).cast("double").alias("__den"),
    )
    ormh = F.when(
        F.col("__den") > 0.0,
        F.round(F.col("__num") / F.col("__den"), 6) + F.lit(0.0),
    )
    return agg.select(*keys, "n_strata", "n", ormh.alias("or_mh6"))


#: Poisson(1) CDF at k = 0..8, as PYTHON-computed literals embedded
#: identically in both engines' plans (the Benford/LSH-literal
#: discipline — never engine exp/factorial): a bootstrap weight is the
#: count of thresholds at or below the row's uniform, capping the tail
#: at w = 9 (P ≈ 1.1e-6 — the truncation bias is far below ROUND-6).
POISSON1_CDF = [
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238463, 0.9963401531726563, 0.9994058151824183,
    0.999916758850712, 0.9999897508033253, 0.999998874797402,
]

#: Mersenne-prime universal-hash family (the MinHash device) for the
#: per-replicate uniforms — ONE md5 base per row, then `replicates`
#: exact-int64 hashes, not `replicates` md5s (the q38 r12 lesson: the
#: md5 chain is the expensive part of a per-row hash pipeline).
_BOOT_P = 2_147_483_647


def _boot_params(replicates: int, seed: int) -> list[tuple[int, int]]:
    import random

    rng = random.Random(seed * 7919 + 13)
    return [
        (rng.randrange(1, _BOOT_P), rng.randrange(0, _BOOT_P))
        for _ in range(replicates)
    ]


def poisson_bootstrap(
    df: DataFrame,
    value_col: str,
    id_cols: list[str],
    keys: list[str] | None = None,
    replicates: int = 40,
    seed: int = 7,
) -> DataFrame:
    """Poisson-bootstrap confidence interval for a per-key mean — the
    ONE-PASS bootstrap that works at 100 TB (Chamandy et al., "Estimating
    uncertainty for massive data streams", Google 2012): instead of B
    resampling passes, each row carries B independent Poisson(1)
    pseudo-counts (≈ its multiplicity in B multinomial resamples when n
    is large), so B replicate means fall out of ONE map-side-combined
    groupBy — no data pass ever repeats.

    Replicate weights are DETERMINISTIC: one md5 base hash of
    ``id_cols`` (NULL-safe sentinel key, the hash_sample discipline),
    then ``replicates`` Mersenne universal hashes → uniforms, each
    inverted through the POISSON1_CDF literal thresholds.  Any engine
    replays the identical weights, so the interval is oracle-checkable
    bit-for-bit — randomness without RNG state.

    ``value_col`` must be INTEGER-VALUED (cents/counts — the trend_fit
    contract, asserted on the scan): every per-row w·x is then an exact
    int64 and the per-replicate sums are DECIMAL-exact in any engine;
    each replicate mean is ONE IEEE division ROUND-6.  The interval is
    the percentile bootstrap: order statistics of the B rounded means
    at ranks ⌈0.025·B⌉ and ⌈0.975·B⌉ (actual elements via integer rank
    arithmetic — the mad_outliers selection discipline; B = 40 makes
    the ranks exactly the 2.5th/97.5th percentiles).  A key where ANY
    replicate drew total weight 0 reads NULL bounds (P ≈ e⁻ⁿ — only
    near-empty keys; a NULL-flag rule both engines share, avoiding
    engine-specific NULL sort order inside the replicate array).

    Output: one row per key — (*keys, n, mean6, boot_lo6, boot_hi6).

    100 TB: ONE exchange on the keys; the 2B+2 aggregates all combine
    map-side; weights are ~B integer mul/mod per row after a single
    md5 — a narrow map, no blow-up join, no per-replicate pass.
    """
    keys = list(keys or [])
    _check_keys(keys, ("n", "mean6", "boot_lo6", "boot_hi6"),
                "poisson_bootstrap")
    if not id_cols:
        raise ValueError(
            "poisson_bootstrap needs id_cols — the deterministic "
            "replicate weights hash row identity"
        )
    if not keys:
        tagged = df.withColumn("__one", F.lit(1))
        out = poisson_bootstrap(
            tagged, value_col, id_cols, ["__one"], replicates, seed
        )
        return out.drop("__one")
    v = F.col(value_col)
    d = df.filter(v.isNotNull()).filter(
        F.assert_true(
            v == F.floor(v),
            F.lit(
                "poisson_bootstrap: values must be integral (cents, "
                "counts) — integerize upstream"
            ),
        ).isNull()
    )
    key = F.concat_ws(
        "|",
        F.lit(str(seed)),
        *[
            F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
            for c in id_cols
        ],
    )
    x = F.conv(F.substring(F.md5(key), 1, 7), 16, 10).cast("long")
    d = d.select(*keys, v.cast("bigint").alias("__v"), x.alias("__x"))
    aggs = [
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("__v").cast("decimal(38,0)")).alias("__s"),
    ]
    for b, (a, c) in enumerate(_boot_params(replicates, seed)):
        u = (((F.col("__x") * a + c) % _BOOT_P).cast("double")
             / F.lit(float(_BOOT_P)))
        w = None
        for t in POISSON1_CDF:
            term = F.when(u >= F.lit(t), 1).otherwise(0)
            w = term if w is None else w + term
        aggs.append(
            F.sum((w.cast("long") * F.col("__v")).cast("decimal(38,0)"))
            .alias(f"__sw{b}")
        )
        aggs.append(F.sum(w).cast("bigint").alias(f"__nw{b}"))
    g = d.groupBy(*keys).agg(*aggs)
    means = F.array(
        *[
            (
                F.round(
                    F.col(f"__sw{b}").cast("double")
                    / F.col(f"__nw{b}").cast("double"),
                    6,
                )
                + F.lit(0.0)
            )
            for b in range(replicates)
        ]
    )
    minw = F.least(*[F.col(f"__nw{b}") for b in range(replicates)])
    lo_ix = max(1, -(-replicates * 25 // 1000))      # ⌈0.025·B⌉
    hi_ix = -(-replicates * 975 // 1000)             # ⌈0.975·B⌉
    sorted_means = F.array_sort(means)
    ok = minw > 0
    return g.select(
        *keys,
        "n",
        (
            F.round(F.col("__s").cast("double") / F.col("n").cast("double"), 6)
            + F.lit(0.0)
        ).alias("mean6"),
        F.when(ok, F.element_at(sorted_means, lo_ix)).alias("boot_lo6"),
        F.when(ok, F.element_at(sorted_means, hi_ix)).alias("boot_hi6"),
    )


def diff_in_diff(
    df: DataFrame,
    treated_col: str,
    post_col: str,
    value_col: str,
    keys: list[str] | None = None,
) -> DataFrame:
    """2×2 difference-in-differences estimator per key — the
    parallel-trends causal readout the A/B family lacks when treatment
    wasn't randomized (an observational rollout, a staged launch):

        DiD = (ȳ_treated,post − ȳ_treated,pre)
            − (ȳ_control,post − ȳ_control,pre)

    ``treated_col`` and ``post_col`` are BOOLEAN (explicit — no
    label-order convention to misread); NULL flag or value rows are
    EXCLUDED (the r8 NULL discipline).  ``value_col`` must be
    INTEGER-VALUED (cents — the trend_fit contract, asserted on the
    scan), so all four cell sums are DECIMAL-exact and each cell mean
    is ONE IEEE division; the estimator is three subtractions of
    ROUND-6 means, readout ROUND-6 (+0.0).  A key missing ANY of the
    four cells reads NULL did6 (no extrapolation).

    Output: one row per key —
    (*keys, n, n_tpost, n_tpre, n_cpost, n_cpre, did6).

    100 TB: ONE map-side-combined exchange on the keys (8 conditional
    aggregates); the estimator is a per-row readout chain.
    """
    keys = list(keys or [])
    _check_keys(
        keys,
        ("n", "n_tpost", "n_tpre", "n_cpost", "n_cpre", "did6"),
        "diff_in_diff",
    )
    if not keys:
        tagged = df.withColumn("__one", F.lit(1))
        out = diff_in_diff(tagged, treated_col, post_col, value_col, ["__one"])
        return out.drop("__one")
    tr, po, v = F.col(treated_col), F.col(post_col), F.col(value_col)
    d = df.filter(
        tr.isNotNull() & po.isNotNull() & v.isNotNull()
    ).filter(
        F.assert_true(
            v == F.floor(v),
            F.lit(
                "diff_in_diff: values must be integral (cents, counts) "
                "— integerize upstream"
            ),
        ).isNull()
    ).select(*keys, tr.alias("__t"), po.alias("__p"),
             v.cast("bigint").alias("__v"))

    def cell(t: bool, p: bool, what: str):
        cond = (F.col("__t") == F.lit(t)) & (F.col("__p") == F.lit(p))
        if what == "n":
            return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")
        return F.sum(F.when(cond, F.col("__v")).otherwise(F.lit(0))
                     .cast("decimal(38,0)"))

    g = d.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        cell(True, True, "n").alias("n_tpost"),
        cell(True, False, "n").alias("n_tpre"),
        cell(False, True, "n").alias("n_cpost"),
        cell(False, False, "n").alias("n_cpre"),
        cell(True, True, "s").alias("__s_tpost"),
        cell(True, False, "s").alias("__s_tpre"),
        cell(False, True, "s").alias("__s_cpost"),
        cell(False, False, "s").alias("__s_cpre"),
    )

    def mean(s: str, n: str):
        return F.round(
            F.col(s).cast("double") / F.col(n).cast("double"), 6
        ) + F.lit(0.0)

    have_all = (
        (F.col("n_tpost") > 0) & (F.col("n_tpre") > 0)
        & (F.col("n_cpost") > 0) & (F.col("n_cpre") > 0)
    )
    did = F.round(
        (mean("__s_tpost", "n_tpost") - mean("__s_tpre", "n_tpre"))
        - (mean("__s_cpost", "n_cpost") - mean("__s_cpre", "n_cpre")),
        6,
    ) + F.lit(0.0)
    return g.select(
        *keys, "n", "n_tpost", "n_tpre", "n_cpost", "n_cpre",
        F.when(have_all, did).alias("did6"),
    )


def trimmed_mean(
    df: DataFrame,
    value_col: str,
    keys: list[str] | None = None,
    trim: float = 0.1,
) -> DataFrame:
    """Symmetric trimmed mean per key: drop the lowest and highest
    ⌈trim·n⌉ observations by rank, average the rest — the robust
    location estimate between the mean (trim=0) and the median
    (trim→0.5), the standard guard for metric means under heavy tails
    (:func:`operators.sorting.winsorize` CAPS the tails instead;
    trimming EXCLUDES them).

    ``value_col`` must be INTEGER-VALUED (cents — asserted): the kept
    sum is then DECIMAL-exact in any engine regardless of which of
    several TIED boundary rows the rank window happens to trim (tied
    values are interchangeable — the sum is rank-count-determined, not
    tie-order-determined), and the mean is ONE IEEE division ROUND-6.
    NULL values are EXCLUDED before ranking.  Keys where trimming
    leaves nothing (n ≤ 2·⌈trim·n⌉) read NULL tmean6.

    Output: one row per key — (*keys, n, n_trim, tmean6).

    100 TB: ONE exchange on the keys (rank window + the aggregate
    share the key partitioning).
    """
    if not (0.0 <= trim < 0.5):
        raise ValueError(f"trim must be in [0, 0.5), got {trim}")
    keys = list(keys or [])
    _check_keys(keys, ("n", "n_trim", "tmean6"), "trimmed_mean")
    if not keys:
        tagged = df.withColumn("__one", F.lit(1))
        out = trimmed_mean(tagged, value_col, ["__one"], trim)
        return out.drop("__one")
    v = F.col(value_col)
    d = df.filter(v.isNotNull()).filter(
        F.assert_true(
            v == F.floor(v),
            F.lit(
                "trimmed_mean: values must be integral (cents, counts) "
                "— integerize upstream"
            ),
        ).isNull()
    ).select(*keys, v.cast("bigint").alias("__v"))
    w = Window.partitionBy(*keys).orderBy("__v")
    wk = Window.partitionBy(*keys)
    from decimal import Decimal

    k = F.ceil(F.lit(Decimal(str(trim))) * F.col("__n")).cast("bigint")
    ranked = (
        d.withColumn("__rn", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(wk))
    )
    kept = (F.col("__rn") > k) & (F.col("__rn") <= F.col("__n") - k)
    g = ranked.groupBy(*keys).agg(
        F.max("__n").alias("n"),
        F.max(k).alias("n_trim"),
        F.sum(F.when(kept, F.col("__v")).otherwise(F.lit(0))
              .cast("decimal(38,0)")).alias("__s"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias("__nk"),
    )
    return g.select(
        *keys,
        F.col("n").cast("bigint").alias("n"),
        F.col("n_trim").cast("bigint").alias("n_trim"),
        F.when(
            F.col("__nk") > 0,
            F.round(
                F.col("__s").cast("double") / F.col("__nk").cast("double"), 6
            ) + F.lit(0.0),
        ).alias("tmean6"),
    )


def conformal_quantile(
    df: DataFrame,
    score_col: str,
    keys: list[str] | None = None,
    alpha: float = 0.1,
) -> DataFrame:
    """Split-conformal calibration threshold per key: the
    ⌈(n+1)(1−α)⌉-th order statistic of the calibration scores — the
    q̂ that makes "predict the set of labels whose nonconformity ≤ q̂"
    cover with probability ≥ 1−α on exchangeable data (Vovk et al.;
    the distribution-free guarantee every model-serving pipeline can
    afford because it is ONE quantile over a held-out scan).

    The selected value is an ACTUAL data element by integer rank
    arithmetic (the mad_outliers selection discipline — no
    interpolation, so both engines pick the bit-identical score; the
    rank formula uses exact DECIMAL multiplication, never float
    (n+1)·(1−α)).  NULL scores are EXCLUDED.  Keys where the rank
    exceeds n (n < (1−α)/α, e.g. n < 9 at α = 0.1) read NULL qhat6 —
    finite-sample coverage is unattainable there, a fact the output
    should state rather than clamp.

    Output: one row per key — (*keys, n, qhat6).

    100 TB: ONE exchange on the keys (rank window + readout share the
    partitioning); calibration sets are usually sampled upstream —
    chain :func:`operators.relational.hash_sample` for the split.
    """
    if not (0.0 < alpha < 1.0):
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    keys = list(keys or [])
    _check_keys(keys, ("n", "qhat6"), "conformal_quantile")
    if not keys:
        tagged = df.withColumn("__one", F.lit(1))
        out = conformal_quantile(tagged, score_col, ["__one"], alpha)
        return out.drop("__one")
    from decimal import Decimal

    s = F.col(score_col)
    d = df.filter(s.isNotNull()).select(
        *keys, s.cast("double").alias("__s")
    )
    w = Window.partitionBy(*keys).orderBy("__s")
    wk = Window.partitionBy(*keys)
    ranked = (
        d.withColumn("__rn", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(wk))
    )
    rank = F.ceil(
        F.lit(Decimal(str(1.0 - alpha))) * (F.col("__n") + 1)
    ).cast("bigint")
    return ranked.groupBy(*keys).agg(
        F.max("__n").cast("bigint").alias("n"),
        (
            F.round(
                F.min(F.when(F.col("__rn") == rank, F.col("__s"))), 6
            ) + F.lit(0.0)
        ).alias("qhat6"),
    )


def psm_match(
    df: DataFrame,
    treated_col: str,
    score_col: str,
    id_col: str,
    keys: list[str] | None = None,
    caliper: float | None = None,
) -> DataFrame:
    """Propensity-score matching (nearest, WITH replacement): attach to
    every treated row the control row with the closest score — the
    matched-cohort construction that makes an observational comparison
    honest before :func:`ab_lift`-style readouts (and the estimator
    companion to :func:`diff_in_diff`: DiD needs parallel trends, PSM
    needs overlap — a pipeline checks both).  Greedy 1:1 WITHOUT
    replacement is inherently sequential; with-replacement nearest
    matching is the standard distributed variant (Abadie & Imbens) and
    is what SQL can replay.

    Spark-first: the asof_join UNION-MARKER device on the SCORE axis —
    union controls and treated per key, ONE sort by (score, marker,
    id) with controls first at equal scores, forward-fill the last
    control ≤ and backward-fill the first control > each treated row,
    keep the closer side (ties → the backward/≤ side, the asof
    convention; equal-score controls fill at distance 0).  One key
    exchange, never an all-pairs product — the oracle replays the
    naive argmin formulation as an independent algorithm.

    Determinism: among equal-score controls the fills select the
    largest id on the ≤ side and the smallest id on the > side (the
    (score, marker, id) sort is total); distances are one IEEE
    subtraction of the same doubles, readout ROUND-6.  ``caliper``
    (same units as the score) NULLs matches farther than it — the
    standard overlap guard.  NULL score or treated-flag rows are
    EXCLUDED.

    Output: one row per TREATED row — (*keys, id, score, match_id,
    match_score, dist6); unmatched treated rows (no control in key, or
    outside the caliper) read NULL match columns.

    100 TB: ONE exchange on the keys; both fills share the single
    sort.  Keys default to a constant (global match pool) —
    partition by stratum keys to match within strata.
    """
    keys = list(keys or [])
    _check_keys(
        keys, ("id", "score", "match_id", "match_score", "dist6"),
        "psm_match",
    )
    if not keys:
        tagged = df.withColumn("__one", F.lit(1))
        out = psm_match(
            tagged, treated_col, score_col, id_col, ["__one"], caliper
        )
        return out.drop("__one")
    tr, s, i = F.col(treated_col), F.col(score_col), F.col(id_col)
    d = df.filter(tr.isNotNull() & s.isNotNull() & i.isNotNull()).select(
        *keys,
        tr.alias("__t"),
        s.cast("double").alias("score"),
        i.alias("id"),
    )
    u = d.select(
        *keys,
        "score",
        "id",
        F.when(F.col("__t"), 1).otherwise(0).alias("__m"),
        F.when(~F.col("__t"), F.col("id")).alias("__cid"),
        F.when(~F.col("__t"), F.col("score")).alias("__cs"),
    )
    w = Window.partitionBy(*keys).orderBy("score", "__m", "id")
    wb = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wf = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    filled = (
        u.withColumn("__pid", F.last("__cid", ignorenulls=True).over(wb))
        .withColumn("__ps", F.last("__cs", ignorenulls=True).over(wb))
        .withColumn("__nid", F.first("__cid", ignorenulls=True).over(wf))
        .withColumn("__ns", F.first("__cs", ignorenulls=True).over(wf))
    )
    tr_rows = filled.filter(F.col("__m") == 1)
    dp = F.abs(F.col("score") - F.col("__ps"))
    dn = F.abs(F.col("__ns") - F.col("score"))
    use_prev = F.col("__ps").isNotNull() & (
        F.col("__ns").isNull() | (dp <= dn)
    )
    mid = F.when(use_prev, F.col("__pid")).otherwise(F.col("__nid"))
    ms = F.when(use_prev, F.col("__ps")).otherwise(F.col("__ns"))
    dist = F.abs(F.col("score") - ms)
    if caliper is not None:
        ok = dist <= F.lit(float(caliper))
        mid, ms = F.when(ok, mid), F.when(ok, ms)
    return tr_rows.select(
        *keys,
        "id",
        "score",
        mid.alias("match_id"),
        ms.alias("match_score"),
        (F.round(F.abs(F.col("score") - ms), 6) + F.lit(0.0)).alias("dist6"),
    )


def jackknife_ratio(
    df: DataFrame,
    num_col: str,
    den_col: str,
    id_cols: list[str],
    keys: list[str] | None = None,
    buckets: int = 32,
    seed: int = 5,
) -> DataFrame:
    """Delete-one-bucket jackknife standard error for a RATIO metric —
    the uncertainty tool :func:`poisson_bootstrap` (means) does not
    cover: CTR = Σclicks/Σviews, revenue-per-session, tokens-per-doc
    are ratios of sums, where per-row resampling understates variance
    because rows of one unit correlate.  Units (``id_cols`` — usually
    the user) are hashed into B buckets; θ̂ᵢ recomputes the ratio with
    bucket i's sums REMOVED, and

        se² = (B−1)/B · Σᵢ (θ̂ᵢ − θ̄)²

    (Quenouille/Tukey; the deleted-block form is the standard
    large-scale practice precisely because it falls out of ONE pass).

    Bucketing is the deterministic md5 idiom (NULL-safe sentinel key),
    so any engine reproduces the identical buckets.  ``num_col`` /
    ``den_col`` must be INTEGER-VALUED (asserted — the cents
    discipline): all 2B+2 sums are DECIMAL-exact, each θ̂ᵢ is ONE IEEE
    division ROUND-6, θ̄ and the squared-deviation sum go through
    DECIMAL(20,6)/(30,12) (order-free), and se is one sqrt ROUND-6
    (correctly rounded in every IEEE engine).  Keys where any
    leave-one-out denominator is 0 read NULL se6 (a bucket carries
    the whole denominator — the estimate is degenerate); a zero TOTAL
    denominator also reads NULL ratio6.

    Output: one row per key — (*keys, n, ratio6, se6).

    100 TB: ONE map-side-combined exchange on the keys (2B+2
    aggregates); the θ̂ᵢ fan-out is a per-row readout chain.
    """
    keys = list(keys or [])
    _check_keys(keys, ("n", "ratio6", "se6"), "jackknife_ratio")
    if not id_cols:
        raise ValueError(
            "jackknife_ratio needs id_cols — buckets must block on the "
            "exchangeability unit (the user), not the row"
        )
    if buckets < 2:
        raise ValueError(f"buckets must be >= 2, got {buckets}")
    if not keys:
        tagged = df.withColumn("__one", F.lit(1))
        out = jackknife_ratio(
            tagged, num_col, den_col, id_cols, ["__one"], buckets, seed
        )
        return out.drop("__one")
    nu, de = F.col(num_col), F.col(den_col)
    d = df.filter(nu.isNotNull() & de.isNotNull()).filter(
        F.assert_true(
            (nu == F.floor(nu)) & (de == F.floor(de)),
            F.lit(
                "jackknife_ratio: numerator and denominator must be "
                "integral (cents, counts) — integerize upstream"
            ),
        ).isNull()
    )
    key = F.concat_ws(
        "|",
        F.lit(str(seed)),
        *[
            F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
            for c in id_cols
        ],
    )
    b = (
        F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("bigint")
        % buckets
    )
    d = d.select(
        *keys,
        nu.cast("bigint").alias("__nu"),
        de.cast("bigint").alias("__de"),
        b.alias("__b"),
    )
    aggs = [
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("__nu").cast("decimal(38,0)")).alias("__sn"),
        F.sum(F.col("__de").cast("decimal(38,0)")).alias("__sd"),
    ]
    for i in range(buckets):
        cond = F.col("__b") == i
        aggs.append(
            F.sum(F.when(cond, F.col("__nu")).otherwise(F.lit(0))
                  .cast("decimal(38,0)")).alias(f"__sn{i}")
        )
        aggs.append(
            F.sum(F.when(cond, F.col("__de")).otherwise(F.lit(0))
                  .cast("decimal(38,0)")).alias(f"__sd{i}")
        )
    g = d.groupBy(*keys).agg(*aggs)
    thetas = [
        (
            F.round(
                (F.col("__sn") - F.col(f"__sn{i}")).cast("double")
                / (F.col("__sd") - F.col(f"__sd{i}")).cast("double"),
                6,
            )
            + F.lit(0.0)
        )
        for i in range(buckets)
    ]
    tbar = (
        sum(
            (t.cast("decimal(20,6)") for t in thetas[1:]),
            thetas[0].cast("decimal(20,6)"),
        ).cast("double")
        / F.lit(float(buckets))
    )
    tbar6 = F.round(tbar, 6) + F.lit(0.0)
    # squared deviations sum as a FIXED-ORDER double left fold, not a
    # decimal chain: Spark's decimal `+` promotion grows the integer
    # part per addition and, at the precision-38 cap, truncates scale
    # to its floor of 6 — which zeroes ~1e-9 deviations (measured:
    # 32 chained DECIMAL(30,12) adds → 0.0).  Each term is ROUND-12,
    # so both engines fold identical doubles in identical order —
    # bit-identical without decimals.
    devs = [
        (F.round((t - tbar6) * (t - tbar6), 12) + F.lit(0.0))
        for t in thetas
    ]
    ss = devs[0]
    for dv in devs[1:]:
        ss = ss + dv
    se = F.round(
        F.sqrt(F.lit((buckets - 1) / buckets) * ss), 6
    ) + F.lit(0.0)
    degenerate = None
    for i in range(buckets):
        c = (F.col("__sd") - F.col(f"__sd{i}")) == 0
        degenerate = c if degenerate is None else (degenerate | c)
    ratio = F.when(
        F.col("__sd") > 0,
        F.round(
            F.col("__sn").cast("double") / F.col("__sd").cast("double"), 6
        )
        + F.lit(0.0),
    )
    return g.select(
        *keys,
        "n",
        ratio.alias("ratio6"),
        F.when(~degenerate & (F.col("__sd") > 0), se).alias("se6"),
    )


def emp_bernstein_ci(
    df: DataFrame,
    value_col: str,
    keys: list[str] | None = None,
    delta: float = 0.05,
    value_range: float | None = None,
) -> DataFrame:
    """Empirical-Bernstein confidence interval for a bounded mean
    (Maurer & Pontil 2009) — the variance-adaptive finite-sample bound
    that beats Hoeffding whenever the data's spread is smaller than
    its range (the usual case for quality scores, rates, capped
    metrics):

        mean ± √(2·V̂·ln(2/δ)/n) + 7·R·ln(2/δ) / (3(n−1))

    with V̂ the sample variance and R = ``value_range`` the KNOWN
    value bound (required — it is an assumption of the inequality,
    not a statistic; rows outside [0, R] fail LOUDLY on the scan).
    Unlike the asymptotic normal CI this holds at every finite n with
    no distributional assumption beyond boundedness; unlike
    :func:`poisson_bootstrap` it needs no replicates at all.

    Determinism: ``value_col`` must be INTEGER-VALUED (cents —
    asserted); moments are DECIMAL-exact; **ln(2/δ) is a
    PYTHON-computed literal** (δ is a parameter, so no engine log
    ever runs — the POISSON1_CDF discipline), sqrt is correctly
    rounded — the whole readout is a shared IEEE chain, ROUND-6.
    Keys with n < 2 read NULL bounds (V̂ undefined).

    Output: one row per key — (*keys, n, mean6, eb_lo6, eb_hi6).

    100 TB: ONE map-side-combined exchange (count + two moment sums);
    the bound is a per-key readout chain.
    """
    import math

    keys = list(keys or [])
    _check_keys(keys, ("n", "mean6", "eb_lo6", "eb_hi6"), "emp_bernstein_ci")
    if value_range is None or value_range <= 0:
        raise ValueError(
            "emp_bernstein_ci requires value_range > 0 — the bound R is "
            "an ASSUMPTION of the inequality (pass the known cap, e.g. "
            "100 for a percentage in integer points)"
        )
    if not (0.0 < delta < 1.0):
        raise ValueError(f"delta must be in (0, 1), got {delta}")
    if not keys:
        tagged = df.withColumn("__one", F.lit(1))
        out = emp_bernstein_ci(
            tagged, value_col, ["__one"], delta, value_range
        )
        return out.drop("__one")
    ln_term = math.log(2.0 / delta)  # Python literal — no engine ln
    v = F.col(value_col)
    d = df.filter(v.isNotNull()).filter(
        F.assert_true(
            (v == F.floor(v)) & (v >= 0) & (v <= F.lit(float(value_range))),
            F.lit(
                f"emp_bernstein_ci: values must be integral in "
                f"[0, {value_range}] — the bound assumes it"
            ),
        ).isNull()
    ).select(*keys, v.cast("bigint").alias("__v"))
    g = d.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("__v").cast("decimal(38,0)")).alias("__s"),
        F.sum((F.col("__v") * F.col("__v")).cast("decimal(38,0)"))
        .alias("__ss"),
    )
    n = F.col("n").cast("double")
    mean = F.col("__s").cast("double") / n
    var = (
        n * F.col("__ss").cast("double")
        - F.col("__s").cast("double") * F.col("__s").cast("double")
    ) / (n * (n - F.lit(1.0)))
    width = F.sqrt(
        F.lit(2.0) * F.greatest(var, F.lit(0.0)) * F.lit(ln_term) / n
    ) + F.lit(7.0 * value_range * ln_term / 3.0) / (n - F.lit(1.0))
    ok = F.col("n") > 1
    return g.select(
        *keys,
        "n",
        (F.round(mean, 6) + F.lit(0.0)).alias("mean6"),
        F.when(ok, F.round(mean - width, 6) + F.lit(0.0)).alias("eb_lo6"),
        F.when(ok, F.round(mean + width, 6) + F.lit(0.0)).alias("eb_hi6"),
    )


def cochran_armitage(
    df: DataFrame,
    score_col: str,
    success_col: str,
    keys: list[str] | None = None,
) -> DataFrame:
    """Cochran–Armitage trend test per key — "does the success RATE
    move monotonically with an ordered dose" (ordered severity tiers,
    price bands, exposure levels): more powerful than the unordered
    chi-square of :func:`categorical_association` exactly when the
    alternative is a trend.

        T  = Σᵢ sᵢ(rᵢ − nᵢ·p̄),   p̄ = R/N
        V  = p̄(1−p̄)·[Σᵢ sᵢ²nᵢ − (Σᵢ sᵢnᵢ)²/N]
        z  = T/√V

    over dose groups i with integer scores sᵢ (``score_col`` —
    asserted integral; the standard equally-spaced choice is 0..k−1,
    but any monotone integer scoring is valid and the caller owns
    it), nᵢ trials and rᵢ successes.  NULL score/success rows are
    EXCLUDED.  Keys where V = 0 (all successes, no successes, or a
    single dose) read NULL z6.

    Determinism: every sum is an exact integer (scores and counts —
    DECIMAL(38,0) folds, the moment discipline); T, V, z are one
    shared IEEE chain, ROUND-6 (+0.0); the two-sided p replays from
    the rounded z via :func:`normal_two_sided_p` (erf-free
    Abramowitz–Stegun, the mann_whitney discipline), ROUND-6.

    Output: one row per key — (*keys, n, n_succ, z6, p6).

    100 TB: ONE map-side-combined exchange on the keys (five moment
    aggregates); the statistic is a per-key readout chain.
    """
    keys = list(keys or [])
    _check_keys(keys, ("n", "n_succ", "z6", "p6"), "cochran_armitage")
    if not keys:
        tagged = df.withColumn("__one", F.lit(1))
        out = cochran_armitage(tagged, score_col, success_col, ["__one"])
        return out.drop("__one")
    sc, su = F.col(score_col), F.col(success_col)
    d = df.filter(sc.isNotNull() & su.isNotNull()).filter(
        F.assert_true(
            sc == F.floor(sc),
            F.lit(
                "cochran_armitage: dose scores must be integers "
                "(0..k-1 or any monotone integer scoring)"
            ),
        ).isNull()
    ).select(
        *keys,
        sc.cast("bigint").alias("__s"),
        F.when(su, 1).otherwise(0).cast("bigint").alias("__r"),
    )
    dec = "decimal(38,0)"
    g = d.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("__r").cast(dec)).alias("__R"),
        F.sum(F.col("__s").cast(dec)).alias("__sn"),
        F.sum((F.col("__s") * F.col("__s")).cast(dec)).alias("__ssn"),
        F.sum((F.col("__s") * F.col("__r")).cast(dec)).alias("__sr"),
    )
    n = F.col("n").cast("double")
    R = F.col("__R").cast("double")
    pbar = R / n
    t = F.col("__sr").cast("double") - F.col("__sn").cast("double") * pbar
    var = (
        pbar
        * (F.lit(1.0) - pbar)
        * (
            F.col("__ssn").cast("double")
            - F.col("__sn").cast("double")
            * F.col("__sn").cast("double")
            / n
        )
    )
    z6 = F.round(t / F.sqrt(var), 6) + F.lit(0.0)
    ok = var > 0
    z = F.when(ok, z6)
    return g.select(
        *keys,
        "n",
        F.col("__R").cast("bigint").alias("n_succ"),
        z.alias("z6"),
        F.when(
            ok, F.round(normal_two_sided_p(z6), 6) + F.lit(0.0)
        ).alias("p6"),
    )


def by_fdr(
    df: DataFrame,
    p_col: str,
    family_cols: list[str] | None = None,
    alpha: float = 0.05,
) -> DataFrame:
    """Benjamini–Yekutieli FDR adjustment — :func:`bh_fdr` under
    ARBITRARY dependence between the tests:

        q_(i) = min_{j ≥ i} ( p_(j) · m · c(m) / j ) ∧ 1,
        c(m) = Σ_{i=1..m} 1/i

    BH's guarantee assumes independent or positively-dependent tests;
    when per-key tests share data (overlapping cohorts, a common
    denominator, correlated metrics) the harmonic-number inflation is
    the price of validity.  Use BH when independence is defensible —
    BY costs a factor c(m) ≈ ln m + 0.577 in power.

    Determinism: c(m) is computed from the family's OWN rank column
    (each rank 1..m contributes one ROUND-12 1/i term, summed as a
    window aggregate over DECIMAL(30,12) — an aggregate Sum keeps its
    scale exactly, unlike the chained decimal `+` the jackknife
    documented); the raw chain is ((p·m)/j)·c in one fixed
    association both engines replay; ties collapse through the
    suffix-min exactly as in BH.  Same guards (NULL p excluded,
    out-of-range p fails loudly).

    Output: input columns + (m, q6, reject).

    100 TB: identical shape to bh_fdr — the relation is #tests-sized
    by construction; one family window carries rank, count, harmonic
    sum, and suffix-min.
    """
    fam = list(family_cols or [])
    p = F.col(p_col)
    d = df.filter(
        F.assert_true(
            p.isNull() | p.between(0.0, 1.0),
            F.lit(f"by_fdr: {p_col} must lie in [0, 1]"),
        ).isNull()
    )
    keep = d.filter(p.isNotNull())
    wm = Window.partitionBy(*fam) if fam else Window.partitionBy()
    wrk = (
        Window.partitionBy(*fam).orderBy(F.col(p_col).desc())
        if fam
        else Window.orderBy(F.col(p_col).desc())
    )
    ranked = keep.withColumn("m", F.count(F.lit(1)).over(wm)).withColumn(
        "__rk_desc", F.row_number().over(wrk)
    )
    cm = (
        F.sum(
            (
                F.round(
                    F.lit(1.0) / F.col("__rk_desc").cast("double"), 12
                )
                + F.lit(0.0)
            ).cast("decimal(30,12)")
        )
        .over(wm)
        .cast("double")
    )
    raw = (
        p
        * F.col("m").cast("double")
        / (F.col("m") - F.col("__rk_desc") + 1).cast("double")
        * cm
    )
    q = F.least(
        F.lit(1.0),
        F.min(raw).over(
            wrk.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    out = ranked.withColumn("q6", F.round(q, 6) + F.lit(0.0)).withColumn(
        "reject", F.col("q6") <= F.lit(float(alpha))
    )
    return out.drop("__rk_desc")


def msprt(
    df: DataFrame,
    time_col: str,
    treated_col: str,
    value_col: str,
    tau2: float,
    keys: list[str] | None = None,
) -> DataFrame:
    """Mixture Sequential Probability Ratio Test (mSPRT) — the
    always-valid A/B readout (Johari, Pekelis & Walsh's "peeking
    problem" fix, public since the 2017 paper): a p-value you may look
    at after EVERY batch without inflating false positives, because

        Λ_n = √(V_n / (V_n + τ²)) · exp(τ²·Δ̂_n² / (2·V_n·(V_n + τ²)))
        p_n = min(p_{n−1}, 1/Λ_n)

    is a nonnegative martingale under H₀ (Δ = 0); the running minimum
    of 1/Λ is the always-valid p.  Δ̂_n is the cumulative
    treated−control mean difference through time ``time_col``,
    V_n = s²_n·(1/n_t + 1/n_c) its plugin variance (pooled within-arm
    s², the Welch/ab_lift convention), and τ² the ONE design
    parameter — the prior scale of the effect you power for, in
    squared value units.

    The reported statistic is **ln Λ** (not Λ): the likelihood ratio
    grows without bound as evidence accumulates (≈10⁸ on the sf3
    fixture), and hashing a 6-decimal rendering of an unbounded exp()
    output amplifies cross-engine libm ulp differences past the ROUND
    (measured: 154/75,000 rows flipped at sf3).  ln Λ =
    ½·ln(V/(V+τ²)) + τ²Δ̂²/(2V(V+τ²)) needs only one bounded ln — the
    second term is pure arithmetic on exact integers — and the p-value
    exponentiates the ALREADY-ROUNDED running max, so both engines
    feed exp() the bit-identical argument.

    Input: integral values (cents/counts — asserted, the
    jackknife/diff_in_diff discipline), boolean ``treated_col``,
    orderable integral ``time_col`` (period ids — pre-bucket
    timestamps upstream); NULL time/arm/value rows are EXCLUDED.

    Output: one row PER (keys…, t) period — (t, n_t, n_c, delta6,
    loglam6, p_av6) — the full inspection trajectory, NULL-valued
    where the statistic is undefined (an arm still empty, dof < 1,
    V ≤ 0).  The LAST row's p_av6 is the current always-valid p;
    qualifying on p_av6 ≤ α gives the stopping time.

    Determinism: per-period cells and cumulative moments are exact
    integers (DECIMAL(38,0) folds); Δ̂, V, and the ln Λ readout are one
    IEEE chain from those exact integers with ONE bounded ln, ROUND-6
    (+0.0) before the running max (the vocab_kl ln convention);
    p_av6 = ROUND(exp(−max(running, 0)), 6) exponentiates the rounded
    max — a [0, 1]-bounded value whose 6-decimal rendering is
    engine-stable.

    100 TB: one (keys…, t) cell aggregation (map-side combined — the
    corpus never reaches a window), then cumulative windows over the
    PERIOD relation partitioned by the experiment keys — an ordinary
    hash exchange whose per-key row count is the number of inspection
    periods (hundreds), never the number of observations.
    """
    keys = list(keys or [])
    _check_keys(
        keys, ("t", "n_t", "n_c", "delta6", "loglam6", "p_av6"), "msprt"
    )
    if not (float(tau2) > 0.0):
        raise ValueError(f"msprt: tau2 must be > 0, got {tau2}")
    tt, tr, v = F.col(time_col), F.col(treated_col), F.col(value_col)
    d = df.filter(
        tt.isNotNull() & tr.isNotNull() & v.isNotNull()
    ).filter(
        F.assert_true(
            (v == F.floor(v)) & (tt == F.floor(tt)),
            F.lit(
                "msprt: values and period ids must be integral "
                "(cents/counts, period buckets) — integerize upstream"
            ),
        ).isNull()
    ).select(
        *keys,
        tt.cast("bigint").alias("__t"),
        tr.cast("boolean").alias("__tr"),
        v.cast("bigint").alias("__v"),
    )
    dec = "decimal(38,0)"

    def cell(is_t: bool, what: str):
        cond = F.col("__tr") == F.lit(is_t)
        if what == "n":
            return F.sum(F.when(cond, 1).otherwise(0)).cast(dec)
        if what == "s":
            return F.sum(
                F.when(cond, F.col("__v")).otherwise(F.lit(0)).cast(dec)
            )
        return F.sum(
            F.when(cond, F.col("__v") * F.col("__v"))
            .otherwise(F.lit(0))
            .cast(dec)
        )

    per = d.groupBy(*keys, "__t").agg(
        cell(True, "n").alias("__nt"),
        cell(True, "s").alias("__st"),
        cell(True, "ss").alias("__sst"),
        cell(False, "n").alias("__nc"),
        cell(False, "s").alias("__sc"),
        cell(False, "ss").alias("__ssc"),
    )
    w = (
        Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(0))
    ).orderBy("__t").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = per.select(
        *keys,
        F.col("__t").alias("t"),
        F.sum("__nt").over(w).alias("cnt"),
        F.sum("__st").over(w).alias("cst"),
        F.sum("__sst").over(w).alias("csst"),
        F.sum("__nc").over(w).alias("cnc"),
        F.sum("__sc").over(w).alias("csc"),
        F.sum("__ssc").over(w).alias("cssc"),
    )
    nt, nc = F.col("cnt").cast("double"), F.col("cnc").cast("double")
    st, sc = F.col("cst").cast("double"), F.col("csc").cast("double")
    sst, ssc = F.col("csst").cast("double"), F.col("cssc").cast("double")
    dof = nt + nc - 2.0
    s2 = (sst - st * st / nt + ssc - sc * sc / nc) / dof
    vn = s2 * (1.0 / nt + 1.0 / nc)
    delta = st / nt - sc / nc
    t2 = F.lit(float(tau2))
    loglam = 0.5 * F.log(vn / (vn + t2)) + t2 * delta * delta / (
        2.0 * vn * (vn + t2)
    )
    ok = (F.col("cnt") > 0) & (F.col("cnc") > 0) & (dof >= 1.0)
    loglam6 = F.when(ok & (vn > 0), F.round(loglam, 6) + F.lit(0.0))
    scored = cum.select(
        *keys,
        "t",
        F.col("cnt").cast("bigint").alias("n_t"),
        F.col("cnc").cast("bigint").alias("n_c"),
        F.when(ok, F.round(delta, 6) + F.lit(0.0)).alias("delta6"),
        loglam6.alias("loglam6"),
    )
    wmax = (
        Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(0))
    ).orderBy("t").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    running = F.max("loglam6").over(wmax)
    p = F.when(
        running.isNotNull(),
        F.round(F.exp(-F.greatest(running, F.lit(0.0))), 6) + F.lit(0.0),
    )
    return scored.withColumn("p_av6", p)


def cox_ph_binary(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    group_col: str,
    newton_steps: int = 4,
) -> DataFrame:
    """Cox proportional-hazards fit for ONE binary covariate — the
    effect-SIZE companion to :func:`logrank_test` ("how much higher is
    cohort A's hazard", where logrank answers "is it different"):
    maximizes the Breslow-ties partial likelihood

        L(β) = Π_events  e^{β·xᵢ} / Σ_{j at risk} e^{β·xⱼ}

    by a FIXED ``newton_steps``-step Newton schedule from β₀ = 0 —
    with a binary covariate the risk-set sums collapse to counts, so
    each step needs only the per-time relation

        U(β) = Σ_t [d1_t − d_t·p_t],   I(β) = Σ_t d_t·p_t·(1−p_t),
        p_t  = n1_t·e^β / (n1_t·e^β + n0_t),   β ← β + U/I

    (score and information of the Breslow log-likelihood).  Newton on
    this concave 1-D likelihood converges quadratically; four steps
    land within the ROUND-6 readout quantum for any |β| the guard
    admits, and the FIXED schedule (not a tolerance loop) is what
    makes the chain SQL-replayable step for step.

    Same contract as logrank_test: integer durations (asserted),
    boolean events, NULLs excluded, exactly two non-NULL groups
    (pushdown-safe assert) — group 1 = the LEXICOGRAPHICALLY SMALLEST
    group value, so β > 0 means that group has the higher hazard.

    Determinism: risk sets are exact integers off the (group,
    duration) compression; each step's per-time U/I terms are ROUND-6
    + decimal-summed (the vocab_kl discipline) and β is re-ROUND-6'd
    after every update, so both engines replay the identical
    quantized chain.  Honest NULLs: I ≤ 0 at any step, or an update
    stepping past |β| > 30, reads NULL fit columns; empty input
    likewise.  NOTE the fixed schedule is an estimator CONTRACT, not
    an MLE solver: under complete separation the true MLE is ±∞ and
    the op reports the (large, finite) 4-step iterate until an update
    crosses the guard — downstream screens on |β̂| or SE catch those
    rows, exactly as they would for any regularized fit.

    Output: ONE row — (n, n_events, beta6, hr6, se6, z6, p6): log
    hazard ratio, hazard ratio e^β, Wald SE = 1/√I(β̂), z = β̂·√I,
    two-sided normal p.

    100 TB: subjects compress to the (group, duration) relation in
    one exchange (the kaplan_meier shape); the risk-set walk is the
    logrank in-task fold over the time-sorted array; each Newton step
    is ONE aggregation over the event-time-sized relation — the fit
    costs ~``newton_steps`` tiny passes after the single corpus
    exchange, no iteration over subjects.
    """
    if int(newton_steps) < 1:
        raise ValueError(
            f"newton_steps must be >= 1, got {newton_steps}"
        )
    dur, ev, grp = F.col(duration_col), F.col(event_col), F.col(group_col)
    d = df.filter(
        dur.isNotNull() & ev.isNotNull() & grp.isNotNull()
    ).filter(
        F.assert_true(
            dur == F.floor(dur),
            F.lit("cox_ph_binary: duration must be an integer time unit"),
        ).isNull()
    )
    per = d.groupBy(dur.cast("bigint").alias("t"), grp.alias("__g")).agg(
        F.sum(F.when(ev, 1).otherwise(0)).cast("bigint").alias("d"),
        F.count(F.lit(1)).cast("bigint").alias("leave"),
    )
    gstats = per.agg(
        F.count_distinct(F.col("__g")).alias("__ng"),
        F.min("__g").alias("__g1"),
    )
    # the logrank pushdown-safe two-groups contract (r13 ADVICE form)
    per = per.crossJoin(F.broadcast(gstats)).filter(
        F.assert_true(
            (F.col("__ng") == 2) | (F.col("__ng") == 0),
            F.lit("cox_ph_binary: exactly two groups required"),
        ).isNull()
    )
    per = per.withColumn("__is1", (F.col("__g") == F.col("__g1")).cast("int"))
    byt = per.groupBy("t").agg(
        F.sum("d").alias("d_all"),
        F.sum("leave").alias("l_all"),
        F.sum(F.col("d") * F.col("__is1")).alias("d1"),
        F.sum(F.col("leave") * F.col("__is1")).alias("l1"),
    )
    arr = byt.agg(
        F.sum("l_all").cast("bigint").alias("__tot_all"),
        F.sum("l1").cast("bigint").alias("__tot1"),
        F.coalesce(F.sum("d_all"), F.lit(0)).cast("bigint").alias(
            "n_events"
        ),
        F.sort_array(
            F.collect_list(F.struct("t", "d_all", "l_all", "d1", "l1"))
        ).alias("__ts"),
    )

    # risk-set walk (the logrank in-task fold): emit the per-event-time
    # relation (t, d_all, d1, n1, n0) as an array, then explode — the
    # Newton steps re-aggregate it, so it must be a relation, not a
    # one-shot fold readout
    def _walk(acc, x):
        rec = F.struct(
            x["t"].alias("t"),
            x["d_all"].alias("d_all"),
            x["d1"].alias("d1"),
            acc["rem1"].alias("n1"),
            (acc["rem_all"] - acc["rem1"]).alias("n0"),
        )
        return F.struct(
            (acc["rem_all"] - x["l_all"]).cast("bigint").alias("rem_all"),
            (acc["rem1"] - x["l1"]).cast("bigint").alias("rem1"),
            F.when(
                x["d_all"] > 0, F.array_append(acc["pt"], rec)
            ).otherwise(acc["pt"]).alias("pt"),
        )

    walked = arr.select(
        "__tot_all",
        "n_events",
        F.aggregate(
            "__ts",
            F.struct(
                F.col("__tot_all").alias("rem_all"),
                F.col("__tot1").alias("rem1"),
                F.expr(
                    "CAST(array() AS array<struct<t:bigint,d_all:bigint,"
                    "d1:bigint,n1:bigint,n0:bigint>>)"
                ).alias("pt"),
            ),
            _walk,
        )["pt"].alias("__pt"),
    )
    pt = walked.select(
        F.col("__tot_all").alias("n"), "n_events",
        F.explode_outer("__pt").alias("__e")
    ).select(
        "n", "n_events",
        F.col("__e.d_all").alias("d_all"), F.col("__e.d1").alias("d1"),
        F.col("__e.n1").alias("n1"), F.col("__e.n0").alias("n0"),
    )

    # U(β_k) needs β_k which needs U(β_{k−1}) — the steps are
    # inherently sequential, so chain ``newton_steps`` aggregations,
    # each over the (bounded) event-time relation
    base = pt.groupBy("n", "n_events").agg(
        F.count(F.lit(1)).alias("__nt")
    ).select("n", "n_events")
    state = base.withColumn("__b", F.lit(0.0) + F.lit(0.0))
    for _k in range(int(newton_steps)):
        j = pt.crossJoin(F.broadcast(state.select("__b")))
        r = F.exp(F.col("__b"))
        n1, n0 = F.col("n1").cast("double"), F.col("n0").cast("double")
        p = (n1 * r) / (n1 * r + n0)
        u_t = (
            F.round(F.col("d1") - F.col("d_all") * p, 6) + F.lit(0.0)
        ).cast("decimal(20,6)")
        i_t = (
            F.round(F.col("d_all") * p * (1.0 - p), 6) + F.lit(0.0)
        ).cast("decimal(20,6)")
        stepagg = j.groupBy("n", "n_events", "__b").agg(
            F.sum(u_t).cast("double").alias("__u"),
            F.sum(i_t).cast("double").alias("__i"),
        )
        nxt = F.col("__b") + F.col("__u") / F.col("__i")
        state = stepagg.select(
            "n", "n_events",
            F.when(
                F.col("__b").isNotNull()
                & (F.col("__i") > 0)
                & (F.abs(nxt) <= 30.0),
                F.round(nxt, 6) + F.lit(0.0),
            ).alias("__b"),
        )
    # final information at beta-hat for the Wald readout
    fin = pt.crossJoin(F.broadcast(state.select("__b")))
    r = F.exp(F.col("__b"))
    n1, n0 = F.col("n1").cast("double"), F.col("n0").cast("double")
    p = (n1 * r) / (n1 * r + n0)
    i_t = (
        F.round(F.col("d_all") * p * (1.0 - p), 6) + F.lit(0.0)
    ).cast("decimal(20,6)")
    out = fin.groupBy("n", "n_events", "__b").agg(
        F.sum(i_t).cast("double").alias("__ifin"),
    )
    ok = F.col("__b").isNotNull() & (F.col("__ifin") > 0)
    beta6 = F.when(ok, F.col("__b"))
    hr6 = F.when(ok, F.round(F.exp(F.col("__b")), 6) + F.lit(0.0))
    se6 = F.when(
        ok, F.round(1.0 / F.sqrt(F.col("__ifin")), 6) + F.lit(0.0)
    )
    z6 = F.when(
        ok, F.round(F.col("__b") * F.sqrt(F.col("__ifin")), 6) + F.lit(0.0)
    )
    res = out.select(
        "n", "n_events",
        beta6.alias("beta6"), hr6.alias("hr6"),
        se6.alias("se6"), z6.alias("z6"),
    )
    return res.withColumn("p6", normal_two_sided_p(F.col("z6")))


def logrank_test_stratified(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    group_col: str,
    strata_col: str,
) -> DataFrame:
    """Stratified (Mantel–Cox) log-rank test — the two-group
    :func:`logrank_test` with risk sets formed WITHIN each stratum and
    the O−E / variance contributions pooled across strata:

        z = Σ_s Σ_t (d₁ₛₜ − n₁ₛₜ·dₛₜ/nₛₜ) / √(Σ_s Σ_t vₛₜ)

    — the adjustment that removes a confounder (site, cohort, device
    class) from the comparison: each stratum contributes only
    comparisons between ITS OWN at-risk subjects, so imbalanced strata
    cannot fake or mask a group effect.  Same contracts as
    logrank_test: integer durations (asserted), boolean events, NULLs
    (in any of the four columns) excluded, exactly two non-NULL groups
    GLOBALLY (pushdown-safe assert; group 1 = the lexicographically
    smallest value — strata missing a group simply contribute that
    side's zeros).

    Determinism: per-stratum risk sets are exact integers; each
    (stratum, time) O−E / v term is ROUND-6 + decimal-summed inside
    the stratum's in-task fold (the logrank walk, one per stratum),
    and the cross-strata pool is an EXACT decimal sum — only the final
    z divide is IEEE.  Times with nₛ = 1 contribute zero variance.

    Output: ONE row — (n, n_events, n_strata, o_minus_e6, var6, z6).

    100 TB: ONE exchange on (stratum, duration, group) compresses
    subjects; the per-stratum walk is the logrank in-task fold keyed
    by stratum (a groupBy, never a keyless window), and the pool is a
    strata-sized aggregation.
    """
    dur, ev = F.col(duration_col), F.col(event_col)
    grp, st = F.col(group_col), F.col(strata_col)
    d = df.filter(
        dur.isNotNull() & ev.isNotNull() & grp.isNotNull() & st.isNotNull()
    ).filter(
        F.assert_true(
            dur == F.floor(dur),
            F.lit(
                "logrank_test_stratified: duration must be an integer "
                "time unit"
            ),
        ).isNull()
    )
    per = d.groupBy(
        st.alias("__s"), dur.cast("bigint").alias("t"), grp.alias("__g")
    ).agg(
        F.sum(F.when(ev, 1).otherwise(0)).cast("bigint").alias("d"),
        F.count(F.lit(1)).cast("bigint").alias("leave"),
    )
    gstats = per.agg(
        F.count_distinct(F.col("__g")).alias("__ng"),
        F.min("__g").alias("__g1"),
    )
    per = per.crossJoin(F.broadcast(gstats)).filter(
        F.assert_true(
            (F.col("__ng") == 2) | (F.col("__ng") == 0),
            F.lit(
                "logrank_test_stratified: exactly two groups required"
            ),
        ).isNull()
    )
    per = per.withColumn("__is1", (F.col("__g") == F.col("__g1")).cast("int"))
    byt = per.groupBy("__s", "t").agg(
        F.sum("d").alias("d_all"),
        F.sum("leave").alias("l_all"),
        F.sum(F.col("d") * F.col("__is1")).alias("d1"),
        F.sum(F.col("leave") * F.col("__is1")).alias("l1"),
    )
    arr = byt.groupBy("__s").agg(
        F.sum("l_all").cast("bigint").alias("__tot_all"),
        F.sum("l1").cast("bigint").alias("__tot1"),
        F.sum("d_all").cast("bigint").alias("__ev"),
        F.sort_array(
            F.collect_list(F.struct("t", "d_all", "l_all", "d1", "l1"))
        ).alias("__ts"),
    )
    dec0 = F.lit(0).cast("decimal(30,6)")

    def _step(acc, x):
        n_all = acc["rem_all"].cast("double")
        n1 = acc["rem1"].cast("double")
        d_all = x["d_all"].cast("double")
        oe_t = (
            F.round(x["d1"] - n1 * d_all / n_all, 6) + F.lit(0.0)
        ).cast("decimal(20,6)")
        v_t = F.when(
            acc["rem_all"] > 1,
            (
                F.round(
                    d_all
                    * (n1 / n_all)
                    * (1.0 - n1 / n_all)
                    * (n_all - d_all)
                    / (n_all - 1.0),
                    6,
                )
                + F.lit(0.0)
            ).cast("decimal(20,6)"),
        ).otherwise(F.lit(0).cast("decimal(20,6)"))
        return F.struct(
            (acc["rem_all"] - x["l_all"]).cast("bigint").alias("rem_all"),
            (acc["rem1"] - x["l1"]).cast("bigint").alias("rem1"),
            (acc["oe"] + oe_t).cast("decimal(30,6)").alias("oe"),
            (acc["v"] + v_t).cast("decimal(30,6)").alias("v"),
        )

    walk = F.aggregate(
        "__ts",
        F.struct(
            F.col("__tot_all").alias("rem_all"),
            F.col("__tot1").alias("rem1"),
            dec0.alias("oe"),
            dec0.alias("v"),
        ),
        _step,
    )
    per_str = arr.select(
        "__s", "__tot_all", "__ev",
        walk["oe"].alias("__oe"),
        walk["v"].alias("__v"),
    )
    pooled = per_str.agg(
        F.coalesce(F.sum("__tot_all"), F.lit(0)).cast("bigint").alias("n"),
        F.coalesce(F.sum("__ev"), F.lit(0)).cast("bigint").alias(
            "n_events"
        ),
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
        F.sum("__oe").alias("__oe_sum"),
        F.sum("__v").alias("__v_sum"),
    )
    return pooled.select(
        "n", "n_events", "n_strata",
        F.col("__oe_sum").cast("double").alias("o_minus_e6"),
        F.col("__v_sum").cast("double").alias("var6"),
        F.when(
            F.col("__v_sum").cast("double") > 0,
            F.round(
                F.col("__oe_sum").cast("double")
                / F.sqrt(F.col("__v_sum").cast("double")),
                6,
            ),
        ).alias("z6"),
    )
