"""Event-time windowed aggregation: tumbling / sliding / session +
watermark helper.  Batch/stream agnostic: ``df`` may come from
``spark.read`` (oracle-checkable) or ``spark.readStream`` (production).

Scale notes: window aggregation shuffles on (window, keys) with
map-side partial aggregation; sliding windows multiply rows by
window/slide before the shuffle (factor 2 at 1h/30m).  Watermarks bound
streaming state; in batch mode they are a no-op.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pigout_spark.functions.math_fns import to_cents


def with_watermark(df: DataFrame, ts_col: str, delay: str) -> DataFrame:
    """Late-data bound (streaming state eviction).  No-op on batch
    DataFrames, so oracle-checked batch runs share the code path."""
    return df.withWatermark(ts_col, delay) if df.isStreaming else df


def tumbling_agg(
    df: DataFrame, ts_col: str, duration: str, keys: list[str], aggs: list[Column]
) -> DataFrame:
    """Non-overlapping event-time windows: one output row per
    (bucket, keys).  `window_start` replaces the raw struct."""
    out = df.groupBy(F.window(ts_col, duration).alias("__w"), *keys).agg(*aggs)
    return out.withColumn("window_start", F.col("__w.start")).drop("__w")


def sliding_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    slide: str,
    keys: list[str],
    aggs: list[Column],
) -> DataFrame:
    """Overlapping windows (each event lands in duration/slide of them)."""
    out = df.groupBy(F.window(ts_col, duration, slide).alias("__w"), *keys).agg(*aggs)
    return out.withColumn("window_start", F.col("__w.start")).drop("__w")


def session_agg(
    df: DataFrame, ts_col: str, gap: str, keys: list[str], aggs: list[Column]
) -> DataFrame:
    """Session windows: events within ``gap`` of the previous event merge;
    a gap ≥ the threshold starts a new session.  `session_start` is the
    first event's timestamp."""
    out = df.groupBy(F.session_window(ts_col, gap).alias("__w"), *keys).agg(*aggs)
    return out.withColumn("session_start", F.col("__w.start")).drop("__w")


def stream_dedup(
    df: DataFrame,
    keys: list[str],
    ts_col: str | None = None,
    watermark_delay: str | None = None,
) -> DataFrame:
    """Streaming deduplication — the incremental counterpart of the
    batch dedup family (pipeline/dedup.py) for continuously-arriving
    training data: keep the FIRST row per key (e.g. content fingerprint).

    With a watermark, state for a key is evicted once the watermark
    passes its event time (``dropDuplicatesWithinWatermark``: duplicates
    arriving within the delay are dropped, state stays bounded — the
    only sane configuration at 100 TB/day).  Without one, exact
    dedup with unbounded state (batch, or short-lived streams only).
    Batch DataFrames take the same code path minus the watermark, so the
    semantics are oracle-checkable."""
    if ts_col is not None and watermark_delay is not None:
        wdf = with_watermark(df, ts_col, watermark_delay)
        if wdf.isStreaming:
            return wdf.dropDuplicatesWithinWatermark(keys)
        return wdf.dropDuplicates(keys)
    return df.dropDuplicates(keys)


def interval_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str,
    right_ts: str,
    lower: str = "0 seconds",
    upper: str = "5 minutes",
    watermark_delay: str | None = None,
) -> DataFrame:
    """Stream-stream interval join: rows pair when the keys match and
    ``right_ts − left_ts ∈ [lower, upper]``.

    In streaming, BOTH sides carry the watermark and the time-range
    condition bounds join state (Spark evicts a buffered left row once
    the right watermark passes ``left_ts + upper`` and vice versa) —
    without the range the state is unbounded and the join is rejected.
    Matches emit immediately (inner join); the watermark only governs
    eviction.  Batch DataFrames take the identical code path minus
    watermarks, so the semantics are oracle-checkable.

    Column naming: output keeps both sides' columns; disambiguate by
    selecting from the aliased sides ``l``/``r``.
    """
    if watermark_delay is not None:
        left = with_watermark(left, left_ts, watermark_delay)
        right = with_watermark(right, right_ts, watermark_delay)
    l, r = left.alias("l"), right.alias("r")
    cond = None
    for k in keys:
        c = F.col(f"l.{k}") == F.col(f"r.{k}")
        cond = c if cond is None else (cond & c)
    lo = F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {lower}")
    hi = F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {upper}")
    rng = (F.col(f"r.{right_ts}") >= lo) & (F.col(f"r.{right_ts}") <= hi)
    return l.join(r, cond & rng)


def resample_events(
    df: DataFrame,
    interval_seconds: int,
    key_col: str = "user_id",
    ts_col: str = "ts",
    val_col: str = "value",
) -> DataFrame:
    """Time-series DENSIFICATION (resample + gap-fill): bucket events
    to a fixed grid per key, aggregate observed values, materialize
    the EMPTY buckets between each key's first and last event, and
    forward-fill the last observed aggregate into gaps — the classic
    downsample-then-ffill every metrics/feature pipeline needs before
    a model sees fixed-step sequences.

    Output per (key, bucket): n_events (0 for gaps), sum_value (NULL
    for gaps), ffill_value (last non-null sum at or before the
    bucket).

    100 TB: one (key, bucket) aggregate (map-side combined), one
    per-key min/max aggregate, a per-key grid explode (rows = span /
    interval — sized by the GRID, not the event count), one key-bucket
    equi-join, and a per-key ordered window for the fill (partition =
    one key's grid, bounded by span/interval).  A key with a years-long
    span × tiny interval inflates its grid — cap spans upstream or
    coarsen the interval; no corpus-sized state anywhere.
    """
    step = F.lit(int(interval_seconds))
    ev = df.select(
        F.col(key_col).alias("k"),
        (F.floor(F.unix_timestamp(ts_col) / step) * step).alias("bucket"),
        F.col(val_col).alias("v"),
    )
    agg = ev.groupBy("k", "bucket").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("v").alias("sum_value"),
    )
    spans = ev.groupBy("k").agg(
        F.min("bucket").alias("lo"), F.max("bucket").alias("hi")
    )
    grid = spans.select(
        "k", F.explode(F.sequence("lo", "hi", step)).alias("bucket")
    )
    joined = grid.join(agg, ["k", "bucket"], "left")
    w = (
        Window.partitionBy("k")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        F.col("k").alias(key_col),
        F.timestamp_seconds("bucket").alias("bucket_ts"),
        F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        "sum_value",
        F.last("sum_value", ignorenulls=True).over(w).alias("ffill_value"),
    )


def rollup_timeseries(
    df: DataFrame,
    intervals_seconds: list[int],
    key_col: str = "user_id",
    ts_col: str = "ts",
    val_col: str = "value",
) -> DataFrame:
    """HYPERTABLE ROLLUP (multi-resolution continuous aggregate): one
    pass over raw events builds the FINEST resolution; every coarser
    resolution REAGGREGATES the previous rollup, never the raw data —
    the TimescaleDB continuous-aggregate / OLAP-cube-on-time pattern.
    ``intervals_seconds`` must be ascending and each must divide the
    next (buckets nest, so counts and sums re-add exactly).

    Output: (resolution, key, bucket, n_events, sum_value) stacked
    across resolutions.

    100 TB: the raw scan is touched ONCE (the finest aggregate, map-
    side combined); each coarser level aggregates the previous level's
    output — rows ∝ keys × span/interval, shrinking by the interval
    ratio per level, so the cascade costs a vanishing fraction of the
    first aggregate.  This is the property that makes dashboard-grade
    rollups affordable at petabyte ingest.
    """
    ivs = list(intervals_seconds)
    if ivs != sorted(ivs):
        raise ValueError("intervals must be ascending")
    for a, b in zip(ivs, ivs[1:]):
        if b % a:
            raise ValueError(f"{b} not a multiple of {a} — buckets must nest")
    step0 = F.lit(ivs[0])
    finest = (
        df.select(
            F.col(key_col).alias("k"),
            (F.floor(F.unix_timestamp(ts_col) / step0) * step0).alias("bucket"),
            F.col(val_col).alias("v"),
        )
        .groupBy("k", "bucket")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("v").alias("sum_value"))
    )
    levels = [finest.withColumn("resolution", F.lit(ivs[0]))]
    prev = finest
    for iv in ivs[1:]:
        step = F.lit(iv)
        prev = (
            prev.select(
                "k",
                (F.floor(F.col("bucket") / step) * step).alias("bucket"),
                "n_events",
                "sum_value",
            )
            .groupBy("k", "bucket")
            .agg(
                F.sum("n_events").alias("n_events"),
                F.sum("sum_value").alias("sum_value"),
            )
        )
        levels.append(prev.withColumn("resolution", F.lit(iv)))
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out.select(
        "resolution",
        F.col("k").alias(key_col),
        "bucket",
        F.col("n_events").cast("long").alias("n_events"),
        "sum_value",
    )


def rolling_agg(
    df: DataFrame,
    ts_col: str,
    key: str,
    window_seconds: int,
    aggs: dict[str, Column],
) -> DataFrame:
    """Trailing event-time window per row: for each event, aggregates
    over the key's events in ``[ts - window_seconds, ts]`` (moving
    average/sum/count — the per-ROW companion to the per-BUCKET
    resample).  ``aggs`` maps output column name → window-less
    aggregate expression, applied over the trailing RANGE frame.

    Tie-safe: a RANGE frame includes every row with the same timestamp,
    so tied events agree on their window regardless of sort order (the
    oracle-hash requirement; a ROWS frame would not be deterministic).

    100 TB: one hash exchange on ``key`` + one partition sort, then a
    streaming frame scan — Spark evaluates a RANGE frame with a sliding
    two-pointer over the sorted partition, O(n) per partition for
    count/sum/avg/min.  Same skew contract as any per-key window.
    """
    order = F.unix_timestamp(ts_col)
    w = (
        Window.partitionBy(key)
        .orderBy(order)
        .rangeBetween(-int(window_seconds), 0)
    )
    out = df
    for name, expr in aggs.items():
        out = out.withColumn(name, expr.over(w))
    return out


def time_weighted_avg(
    df: DataFrame,
    ts_col: str,
    key: str,
    val_col: str,
    bucket_seconds: int,
    tiebreak: str | None = None,
) -> DataFrame:
    """TIME-WEIGHTED AVERAGE per (key, bucket) for IRREGULARLY sampled
    series (the TimescaleDB `time_weight` analog): each observation
    holds its value until the next observation (LOCF), segments are
    split across bucket boundaries, and the bucket's average weights
    each value by the seconds it was in effect — the correct mean for
    sensor/price series where a plain AVG over-weights chatty periods.

    The final observation of a key carries no segment (no known end) —
    it contributes to no bucket.  NULL values drop their observation.
    Ties on the timestamp need ``tiebreak`` for a deterministic
    carried value (zero-length segments weigh 0 either way).

    Output: (key, bucket, w_seconds, twa).

    Determinism (oracle discipline): weights are integer seconds,
    contributions are int64 cents·seconds, the per-bucket sum is
    DECIMAL(38,0) (exact) cast to double at scale 0 (a single
    correctly-rounded conversion in either engine), and the final twa
    is one IEEE division — bit-identical cross-engine.

    100 TB: one key exchange feeds the lead() window; bucket-splitting
    explodes each segment to ⌈span/bucket⌉ rows (pick the bucket near
    the typical gap); the (key, bucket) aggregation combines map-side.
    """
    step = int(bucket_seconds)
    order = [F.col("__start").asc()] + (
        [F.col(tiebreak).asc()] if tiebreak else []
    )
    w = Window.partitionBy(key).orderBy(*order)
    e = (
        df.filter(F.col(val_col).isNotNull())
        .select(
            F.col(key),
            F.unix_timestamp(ts_col).alias("__start"),
            to_cents(F.col(val_col)).alias("__cents"),
            *([F.col(tiebreak)] if tiebreak else []),
        )
        .withColumn("__end", F.lead("__start").over(w))
        .filter(F.col("__end").isNotNull() & (F.col("__end") > F.col("__start")))
    )
    b = F.explode(
        F.sequence(
            F.floor(F.col("__start") / step),
            F.floor((F.col("__end") - 1) / step),
        )
    ).alias("__b")
    seg = e.select("*", b).select(
        F.col(key),
        (F.col("__b") * step).alias("bucket"),
        (
            F.least(F.col("__end"), (F.col("__b") + 1) * step)
            - F.greatest(F.col("__start"), F.col("__b") * step)
        ).alias("__w"),
        F.col("__cents"),
    )
    agg = seg.groupBy(key, "bucket").agg(
        F.sum("__w").alias("w_seconds"),
        F.sum((F.col("__cents") * F.col("__w")).cast("decimal(38,0)")).alias("__sum"),
    )
    return agg.select(
        key,
        "bucket",
        "w_seconds",
        (
            F.col("__sum").cast("double")
            / (F.lit(10000.0) * F.col("w_seconds").cast("double"))
        ).alias("twa"),
    )


def ohlc_agg(
    df: DataFrame,
    ts_col: str,
    key: str,
    val_col: str,
    bucket_seconds: int,
    tiebreak: str | None = None,
) -> DataFrame:
    """OHLC (candlestick) downsample: per (key, bucket) the Opening
    (earliest) and Closing (latest) observation plus Low/High/count —
    the standard financial/metrics compaction of a raw tick stream.

    Open/close use ``min_by``/``max_by`` over (ts, tiebreak): both are
    partial-aggregable, so the whole candle builds map-side in ONE
    (key, bucket) groupBy — no window, no sort, no second pass.  Ties
    on the timestamp need ``tiebreak`` for deterministic open/close
    (low/high/count are tie-proof).
    """
    step = int(bucket_seconds)
    bucket = (F.floor(F.unix_timestamp(ts_col) / step) * step).alias("bucket")
    order = [F.unix_timestamp(ts_col)] + ([F.col(tiebreak)] if tiebreak else [])
    okey = F.struct(*order)
    return (
        df.filter(F.col(val_col).isNotNull())
        .groupBy(F.col(key), bucket)
        .agg(
            F.min_by(val_col, okey).alias("open"),
            F.max(val_col).alias("high"),
            F.min(val_col).alias("low"),
            F.max_by(val_col, okey).alias("close"),
            F.count(F.lit(1)).alias("n_obs"),
        )
    )


def rolling_zscore(
    df: DataFrame,
    ts_col: str,
    key: str,
    val_col: str,
    window_seconds: int,
    threshold: float = 3.0,
    min_obs: int = 5,
) -> DataFrame:
    """Streaming-style anomaly detection on a batch log: flag events
    whose value deviates more than ``threshold`` sample standard
    deviations from the TRAILING ``window_seconds`` window of the same
    key (the window includes the event itself, so a lone spike dilutes
    its own baseline — the usual trade; shrink the window or raise
    min_obs to sharpen).

    Determinism: window count / Σ / Σ² are EXACT integers (cents,
    decimal-38 accumulators); mean/variance/z then derive through one
    fixed IEEE chain both engines execute identically.

    Output: flagged rows only — (key, ts, value, z, n_window).

    100 TB: same profile as :func:`rolling_agg` — one key exchange,
    one sort, O(n) two-pointer frame evaluation for all three sums.
    """
    c = to_cents(F.col(val_col))
    w = (
        Window.partitionBy(key)
        .orderBy(F.unix_timestamp(ts_col))
        .rangeBetween(-int(window_seconds), 0)
    )
    base = df.filter(F.col(val_col).isNotNull()).withColumn("__c", c)
    stats = (
        base.withColumn("__n", F.count(F.lit(1)).over(w))
        .withColumn("__s", F.sum(F.col("__c").cast("decimal(38,0)")).over(w))
        .withColumn(
            "__s2",
            F.sum((F.col("__c").cast("decimal(38,0)") * F.col("__c"))).over(w),
        )
    )
    mean = F.col("__s").cast("double") / F.col("__n")
    var = (
        F.col("__s2").cast("double")
        - F.col("__s").cast("double") * F.col("__s").cast("double") / F.col("__n")
    ) / (F.col("__n") - 1)
    z = (F.col("__c").cast("double") - mean) / F.sqrt(var)
    out = stats.withColumn("__z", z).filter(
        (F.col("__n") >= min_obs)
        & (var > 0)
        & (F.abs(F.col("__z")) > threshold)
    )
    return out.select(
        F.col(key),
        F.col(ts_col),
        F.col(val_col),
        F.col("__z").alias("z"),
        F.col("__n").alias("n_window"),
    )


def interpolate_events(
    df: DataFrame,
    interval_seconds: int,
    key_col: str = "user_id",
    ts_col: str = "ts",
    val_col: str = "value",
    tiebreak: str | None = None,
) -> DataFrame:
    """Linear-interpolation resample: value at each grid point between
    two observations is the time-weighted blend of the straddling
    observations — the numeric companion to :func:`resample_events`'s
    step-function ffill (sensor series, price marks).  Grid points at
    or after a key's last observation take its value (flat tail);
    points before the first observation are not emitted.

    Determinism: the blend is one fixed IEEE chain
    (v0 + (v1−v0)·(t−t0)/(t1−t0)) on second-granularity integers —
    identical in any engine.  Timestamp ties need ``tiebreak`` to pin
    which observation anchors the segment.

    100 TB: same shape as :func:`time_weighted_avg` — one key exchange
    for lead(), segments explode to their covered grid points
    (amplification span/interval), no corpus-sized state.
    """
    step = int(interval_seconds)
    order = [F.col("__t").asc()] + ([F.col(tiebreak).asc()] if tiebreak else [])
    w = Window.partitionBy(key_col).orderBy(*order)
    e = (
        df.filter(F.col(val_col).isNotNull())
        .select(
            F.col(key_col),
            F.unix_timestamp(ts_col).alias("__t"),
            F.col(val_col).cast("double").alias("__v"),
            *([F.col(tiebreak)] if tiebreak else []),
        )
        .withColumn("__t1", F.lead("__t").over(w))
        .withColumn("__v1", F.lead("__v").over(w))
    )
    # grid points in [ceil(t/step), ...): a segment [t, t1) owns grid
    # points ceil(t/step)*step <= g < t1 (strictly before the next
    # observation, which owns its own point if on-grid); the last
    # observation (t1 null) owns exactly its ceiling point (flat tail).
    g_start = F.ceil(F.col("__t") / step)
    g_end = F.when(
        F.col("__t1").isNotNull(),
        F.ceil(F.col("__t1") / step)
        - F.when((F.col("__t1") % step) == 0, 1).otherwise(0),
    ).otherwise(g_start)
    seg = (
        e.filter(g_end >= g_start)
        .select(
            key_col,
            "__t",
            "__v",
            "__t1",
            "__v1",
            F.explode(F.sequence(g_start, g_end)).alias("__g"),
        )
        .filter(F.col("__t1").isNull() | (F.col("__g") * step < F.col("__t1")))
    )
    frac = (F.col("__g") * step - F.col("__t")).cast("double") / (
        F.col("__t1") - F.col("__t")
    ).cast("double")
    val = F.when(
        F.col("__t1").isNull() | (F.col("__t1") == F.col("__t")),
        F.col("__v"),
    ).otherwise(F.col("__v") + (F.col("__v1") - F.col("__v")) * frac)
    return seg.select(
        F.col(key_col),
        (F.col("__g") * step).alias("bucket"),
        val.alias("value_interp"),
    )


def ewma_events(
    df: DataFrame,
    ts_col: str,
    key: str,
    val_col: str,
    halflife_seconds: float,
    tiebreak: str | None = None,
) -> DataFrame:
    """Time-aware EWMA for IRREGULAR series: per key, in time order,

        y_i = w·y_{i-1} + (1−w)·v_i,   w = 2^(−Δt / halflife)

    so a value's influence halves every ``halflife_seconds`` of real
    time regardless of sampling cadence (the irregular-series form;
    fixed-α row EWMA over-weights dense bursts).  First observation
    seeds y with its own value.

    The recursion is per-row sequential — genuinely not expressible in
    one SQL pass — so this is the sanctioned Arrow path: applyInPandas
    per key, the same grouped-map machinery as the stateful streaming
    ops.  Correctness is pinned against a pure-Python reference in
    pytest (rows-only oracle, the x_bpe_encode precedent).

    100 TB: one hash exchange on the key; each group computes a
    single O(n) pass inside its Arrow batch.  Skew contract as any
    per-key op.  NULL values are dropped (they have no place in the
    recursion); ties need ``tiebreak`` for a defined visit order.
    """
    import math

    import pandas as pd

    out_schema = f"{key} long, {ts_col} timestamp, {val_col} double, ewma double"

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.dropna(subset=[val_col])
        order = [ts_col] + ([tiebreak] if tiebreak else [])
        pdf = pdf.sort_values(order)
        ts = pd.to_datetime(pdf[ts_col]).astype("int64") / 1e9
        vals = pdf[val_col].to_list()
        ts = ts.to_list()
        out = []
        y = None
        prev_t = None
        for t, v in zip(ts, vals):
            if y is None:
                y = v
            else:
                w = math.pow(2.0, -(t - prev_t) / halflife_seconds)
                y = w * y + (1.0 - w) * v
            prev_t = t
            out.append(y)
        return pd.DataFrame(
            {
                key: pdf[key].to_list(),
                ts_col: pdf[ts_col].to_list(),
                val_col: vals,
                "ewma": out,
            }
        )

    cols = [key, ts_col, val_col] + ([tiebreak] if tiebreak else [])
    return df.select(*cols).groupBy(key).applyInPandas(fn, out_schema)


def seasonal_decompose(
    df: DataFrame,
    key_cols: list[str],
    idx_col: str,
    value_col: str,
    period: int,
) -> DataFrame:
    """Classical additive seasonal decomposition per key:
    value = trend + seasonal + resid over a REGULARLY-SPACED series
    (``idx_col`` an integer tick index, consecutive per key — run
    resample_events / interpolate_events first if the raw data has
    gaps; the math assumes adjacent rows are adjacent ticks).

    trend: centered moving average over one period — a plain
    ``period``-point mean when the period is odd, the standard
    half-weighted (period+1)-point "2×P-MA" when even.  Defined only
    where the full window of non-NULL values exists (series edges and
    NULL neighborhoods get NULL trend, the statsmodels convention).
    seasonal: per-phase (idx mod period) mean of the detrended values,
    centered so the seasonal components sum to ~0 over one period.
    resid: value − trend − seasonal where trend is defined.

    Determinism (oracle-hash discipline): the trend numerator stays in
    EXACT decimal — T2 = 2·Σwindow − edge_lo − edge_hi (even; ×2
    instead of ×0.5 keeps every operand integral-scaled) — and the
    detrended phase sums accumulate D2 = 2·period·v − T2 exactly, so
    the only irreversible steps are single IEEE divisions.  Phase
    means pass through ROUND-6 + signed-zero normalization before the
    centering sum (the vocab_kl discipline — they are then exact
    DECIMAL(20,6) values).  Requires few-decimal, modest-magnitude
    values (the dsum contract): counts, cents, small measurements.

    Output: (*key_cols, idx, value, trend, seasonal, resid).

    100 TB: TWO data exchanges — the key window (trend + edge
    lags share one partitioning/sort) and the (key, phase) join of
    the phase relation back onto the data; the phase relation itself
    is keys×period sized.  Per-key state is the window sort.
    """
    p = int(period)
    if p < 2:
        raise ValueError("seasonal_decompose: period must be >= 2")
    even = p % 2 == 0
    h = p // 2
    frame = 2 * h + 1 if even else p  # even: P+1 half-weighted points
    div = 2 * p  # T2/D2 carry a factor 2·period
    idx, v = F.col(idx_col), F.col(value_col)
    d = df.filter(idx.isNotNull())
    v8 = v.cast("decimal(24,8)")
    wk = Window.partitionBy(*key_cols).orderBy(idx_col)
    wf = wk.rowsBetween(-(frame // 2), frame // 2)
    wsum = F.sum(v8).over(wf)
    cnt = F.count(v8).over(wf)
    if even:
        edge_lo = F.lag(v8, h).over(wk)
        edge_hi = F.lead(v8, h).over(wk)
        t2 = wsum * 2 - edge_lo - edge_hi
    else:
        t2 = wsum * 2
    d = d.withColumn(
        "__t2", F.when(cnt == frame, t2)
    ).withColumn("__phase", F.pmod(idx, F.lit(p)).cast("bigint"))
    # D2 = 2·period·(v − trend), exactly, in decimal
    d2 = v8 * F.lit(div) - F.col("__t2")
    ph = (
        d.filter(F.col("__t2").isNotNull())
        .groupBy(*key_cols, "__phase")
        .agg(
            F.sum(d2).alias("__s2"),
            F.count(F.lit(1)).alias("__n"),
        )
        .withColumn(
            "__seas6",
            F.round(
                F.col("__s2").cast("double")
                / (F.col("__n") * F.lit(float(div))),
                6,
            )
            + F.lit(0.0),
        )
    )
    ctr = ph.groupBy(*key_cols).agg(
        (
            F.sum(F.col("__seas6").cast("decimal(20,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("__m")
    )
    ph = ph.join(ctr, list(key_cols)).withColumn(
        "__sc6", F.round(F.col("__seas6") - F.col("__m"), 6) + F.lit(0.0)
    )
    out = d.join(
        ph.select(*key_cols, "__phase", "__sc6"),
        list(key_cols) + ["__phase"],
        "left",
    )
    trend = F.col("__t2").cast("double") / F.lit(float(div))
    return out.select(
        *key_cols,
        idx.alias("idx"),
        v.alias("value"),
        trend.alias("trend"),
        F.col("__sc6").alias("seasonal"),
        (v - trend - F.col("__sc6")).alias("resid"),
    )


def cusum_flags(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
    target: int,
    k: int,
    h: int,
    tiebreak: str | None = None,
) -> DataFrame:
    """Tabular CUSUM change-point monitor per key: the classic
    sequential statistics

        s⁺(t) = max(0, s⁺(t−1) + (v − target − k))
        s⁻(t) = max(0, s⁻(t−1) + (target − v − k))

    with an alarm when either exceeds ``h`` — the standard "did the
    process mean shift" detector (k = half the shift worth detecting,
    h = tolerance), complementing the distribution-level drift ops
    (PSI/KS see shape, CUSUM sees WHEN the level moved).

    The recursion looks sequential but has the running-extremum closed
    form (the merge_intervals reflection trick):
    s(t) = c(t) − min(0, min_{j≤t} c(j)) for c = the running sum of
    increments — so the whole statistic is ONE cumulative sum plus ONE
    running min per side, window-expressible and exactly
    SQL-replayable.  INTEGERIZED inputs by contract (cents, counts —
    ``target``/``k``/``h`` integers, the trend_fit term_scale=0
    discipline, enforced by the same integrality assert): the
    statistic stays exact int64.  NULL values are excluded (no place
    in the recursion); pass ``tiebreak`` when order values can tie.

    Output: (*key_cols, order, value, s_hi, s_lo, alarm).

    100 TB: ONE key exchange — both cumsums and both running mins
    share the same window partitioning and sort.
    """
    v = F.col(value_col)
    d = df.filter(F.col(order_col).isNotNull() & v.isNotNull())
    d = d.filter(
        F.assert_true(
            v == F.floor(v),
            F.lit(
                "cusum_flags: value must be integral (cents, counts) — "
                "integerize upstream for an exact int64 statistic"
            ),
        ).isNull()
    )
    order = [F.col(order_col)] + ([F.col(tiebreak)] if tiebreak else [])
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    vi = v.cast("bigint")
    z_hi = vi - F.lit(int(target)) - F.lit(int(k))
    z_lo = F.lit(int(target)) - vi - F.lit(int(k))
    # two projections (window-over-window can't nest in one), SAME
    # partitioning and sort — one physical exchange serves all four
    staged = d.select(
        *key_cols,
        F.col(order_col).alias("order"),
        *([F.col(tiebreak).alias("__tb")] if tiebreak else []),
        vi.alias("value"),
        F.sum(z_hi).over(w).alias("__c_hi"),
        F.sum(z_lo).over(w).alias("__c_lo"),
    )
    order2 = [F.col("order")] + ([F.col("__tb")] if tiebreak else [])
    w2 = (
        Window.partitionBy(*key_cols)
        .orderBy(*order2)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    zero = F.lit(0).cast("bigint")
    s_hi = F.col("__c_hi") - F.least(zero, F.min("__c_hi").over(w2))
    s_lo = F.col("__c_lo") - F.least(zero, F.min("__c_lo").over(w2))
    return staged.select(
        *key_cols,
        "order",
        "value",
        s_hi.alias("s_hi"),
        s_lo.alias("s_lo"),
        ((s_hi > int(h)) | (s_lo > int(h))).alias("alarm"),
    )


def autocorr(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    max_lag: int = 5,
) -> DataFrame:
    """Per-key autocorrelation function at lags 1..``max_lag`` — the
    seasonality/persistence screen that tells you WHICH lag structure
    :func:`seasonal_decompose` (period choice) and :func:`ewma_events`
    (memory choice) should use:

        acf(ℓ) = corr(v_t, v_{t−ℓ})   over the key's series

    as the PEARSON-over-lagged-pairs variant (each lag's n−ℓ pairs
    correlate directly; the classical constant-denominator estimator
    differs slightly at small n — documented choice, standard in SQL
    replays).  The series is the key's rows ordered by ``ts_col``;
    duplicate (key, ts) rows make lag order undefined and FAIL LOUDLY
    (the compact_changelog discipline — pre-aggregate to a grid first,
    e.g. via resample_events).  NULL values are excluded before
    lagging (the lag walks the non-NULL series).  Values must be
    INTEGRAL (cents, counts — the trend_fit term_scale=0 contract,
    asserted on the scan) so the five moment sums are exact
    DECIMAL(38,0).

    Output: (*key_cols, lag, n_pairs, acf6) — keys whose series is too
    short for a lag, or constant on either side, read NULL acf6.

    100 TB: ONE exchange on the key — the duplicate-ts guard, the
    ``max_lag`` lag columns (one window sort), and the (key, lag)
    moment aggregation all run on the key partitioning; the unpivot is
    a narrow per-row stack.
    """
    if int(max_lag) < 1:
        raise ValueError(f"max_lag must be >= 1, got {max_lag}")
    keys = list(key_cols or [])
    if not keys:
        raise ValueError("autocorr needs at least one key column")
    v = F.col(value_col)
    d = df.filter(v.isNotNull()).filter(
        F.assert_true(
            v == F.floor(v),
            F.lit(
                "autocorr: values must be integral (cents, counts) — "
                "the trend_fit term_scale=0 contract"
            ),
        ).isNull()
    ).filter(
        # a NULL ts has no position on the grid — it would silently
        # rank FIRST in the lag order (r9 self-review); malformed grid
        # rows fail loudly like duplicates do
        F.assert_true(
            F.col(ts_col).isNotNull(),
            F.lit(
                "autocorr: NULL ts on a grid row — the series order is "
                "undefined; fix the grid aggregation upstream"
            ),
        ).isNull()
    ).select(*keys, F.col(ts_col).alias("__ts"), v.cast("bigint").alias("__v"))
    d = d.repartition(*keys)
    dup = Window.partitionBy(*keys, "__ts")
    d = d.withColumn("__dup", F.count(F.lit(1)).over(dup)).filter(
        F.assert_true(
            F.col("__dup") == 1,
            F.lit(
                "autocorr: duplicate (key, ts) rows — lag order would be "
                "nondeterministic; pre-aggregate to a grid "
                "(resample_events) first"
            ),
        ).isNull()
    )
    w = Window.partitionBy(*keys).orderBy("__ts")
    lag_cols = [
        F.lag("__v", lag).over(w).alias(f"__l{lag}")
        for lag in range(1, int(max_lag) + 1)
    ]
    lagged = d.select(*keys, "__v", *lag_cols)
    pairs = F.array(
        *[
            F.struct(
                F.lit(lag).cast("bigint").alias("lag"),
                F.col(f"__l{lag}").alias("vl"),
            )
            for lag in range(1, int(max_lag) + 1)
        ]
    )
    long = (
        lagged.select(*keys, "__v", F.explode(pairs).alias("__p"))
        .select(*keys, "__v", F.col("__p.lag").alias("lag"), F.col("__p.vl").alias("__vl"))
        .filter(F.col("__vl").isNotNull())
    )
    dec = "decimal(38,0)"
    x, y = F.col("__v"), F.col("__vl")
    s = long.groupBy(*keys, "lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(x.cast(dec)).cast("double").alias("__sx"),
        F.sum(y.cast(dec)).cast("double").alias("__sy"),
        F.sum((x.cast(dec) * y)).cast("double").alias("__sxy"),
        F.sum((x.cast(dec) * x)).cast("double").alias("__sxx"),
        F.sum((y.cast(dec) * y)).cast("double").alias("__syy"),
    )
    n = F.col("n_pairs").cast("double")
    vx = n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    vy = n * F.col("__syy") - F.col("__sy") * F.col("__sy")
    cov = n * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    acf = F.when(
        (vx > 0) & (vy > 0), F.round(cov / F.sqrt(vx * vy), 6) + F.lit(0.0)
    )
    return s.select(*keys, "lag", "n_pairs", acf.alias("acf6"))
