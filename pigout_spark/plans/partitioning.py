"""Shared partitioning helpers for candidate-pair / bucket-join plans.

Reference analog (SURVEY.md §2.3): Pig lets the script pin join
parallelism with ``PARALLEL n``; here the same lever defends
amplifying joins against AQE's input-byte-based coalescing.
"""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pin_partitions(
    df: DataFrame, *keys: str, join_hint: str | None = "merge"
) -> DataFrame:
    """Repartition by the upcoming join keys with an EXPLICIT partition
    count (spark.sql.shuffle.partitions).

    Candidate-pair joins have huge output amplification from tiny
    inputs; AQE sizes stages by shuffle INPUT bytes, so it coalesces the
    join down to one task and serializes the expensive pair generation.
    An explicit count is exempt from AQE coalescing, and since it
    hash-partitions on the join keys the join reuses it — no extra
    exchange.  When BOTH sides of a self-join derive from the same
    pinned node, the physical plan gets one Exchange + one
    ReusedExchange: the upstream subtree executes once.

    ``join_hint`` (r14, guide §3.1): at bench scale the planner's size
    estimate puts the pinned relation under the broadcast threshold and
    silently converts the pair join to BroadcastHashJoin — which ADDS a
    BroadcastExchange on top of the pinned shuffle, defeats exchange
    reuse, and so computes the (expensive: minhash folds, simhash
    folds, hyperplane projections) fingerprint subtree once PER JOIN
    SIDE.  Measured at sf0.1: every pair self-join in the library
    planned as BHJ with zero reuse.  The MERGE hint keeps the join on
    the pinned exchanges, restoring the one-subtree shape — which is
    also the only shape that survives 100 TB, where a corpus-derived
    build side cannot be broadcast.  Hint A/B at sf0.1 (best-of-5,
    quiet box): merge beats both the BHJ default and SHUFFLE_HASH on
    every benched pair query (simhash 1.27 vs 1.72/2.33; minhash 1.06
    vs 1.17/1.32; embedding 0.58 vs ~1.33/0.61) — the sorted runs
    stream through the amplifying condition without per-partition hash
    tables of wide (vector/signature) rows.  Pass ``join_hint=None``
    where a genuinely broadcast-sized OTHER relation joins the pinned
    one.
    """
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    out = df.repartition(n, *[F.col(k) for k in keys])
    return out.hint(join_hint) if join_hint else out


def _parse_bytes(v: str) -> int:
    """Spark size-conf string → bytes ('134217728', '128m', '1g', '64kb')."""
    s = str(v).strip().lower()
    mult = 1
    for suf, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                   ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("b", 1)):
        if s.endswith(suf):
            s, mult = s[: -len(suf)], m
            break
    return int(s) * mult


def fan_out(df: DataFrame, factor: int = 1) -> DataFrame:
    """Round-robin repartition a SMALL scan so downstream compute-heavy
    narrow maps (md5-per-token folds, 64-dim dot products) use the whole
    cluster instead of the scan's task count.

    A single-row-group parquet file scans as ONE task; a narrow map
    behind it then runs on one core while the rest idle — measured 2.6×
    on the simhash fold at sf0.1/local[32].  GUARDED: when the scan
    would already yield at least the session's shuffle parallelism (any
    real table at scale — 100 TB scans in thousands of tasks), this is a
    no-op, so the extra exchange exists exactly when the cluster would
    otherwise be idle.  The Pig analog is the PARALLEL clause.

    The guard is decided purely from driver-side metadata — Catalyst's
    logical-plan size estimate against ``spark.sql.files.maxPartitionBytes``
    (the scan splitter's packing bound) — never by materializing
    ``df.rdd`` to count partitions: the RDD probe forces plan translation
    + file listing per call, which at 100 TB is itself a metadata storm.
    Column pruning makes the estimate undershoot the on-disk scan size,
    which only errs toward fanning out — correct on the idle-cluster
    side, and still a guaranteed no-op at production widths.  Streaming
    DataFrames pass through untouched by construction.
    """
    if df.isStreaming:
        return df
    conf = df.sparkSession.conf
    n = int(conf.get("spark.sql.shuffle.partitions", "32")) * factor
    max_pb = _parse_bytes(conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
    try:
        est_bytes = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Py4JError:
        return df
    est_tasks = max(1, -(-est_bytes // max_pb))  # ceil
    if est_tasks >= n:
        return df
    return df.repartition(n)


def zorder_key(cols, bits: int = 16):
    """Morton (Z-order) interleave of pre-scaled integer columns —
    every input must already be in ``[0, 2**bits)`` (see
    :func:`zorder_layout` for the min-max scaling front end).  Bit i of
    column j lands at position ``i*ncols + j``; ``bits*ncols`` must fit
    a signed int64 (≤ 62).

    Pure integer shift/mask arithmetic: whole-stage codegen on the
    Spark side, bit-identical `& >> <<` replay in SQL — no UDF, no FP.
    """
    ncols = len(cols)
    if not ncols:
        raise ValueError("zorder_key needs at least one column")
    if bits * ncols > 62:
        raise ValueError(f"bits*ncols = {bits * ncols} exceeds int64")
    key = F.lit(0).cast("bigint")
    for b in range(bits):
        for j, c in enumerate(cols):
            cc = (F.col(c) if isinstance(c, str) else c).cast("bigint")
            bit = F.shiftright(cc, b).bitwiseAND(F.lit(1).cast("bigint"))
            key = key + F.shiftleft(bit, b * ncols + j)
    return key


def zorder_layout(df: DataFrame, cols: list, bits: int = 16):
    """Z-ORDER data layout (the Delta/Iceberg OPTIMIZE ZORDER analog):
    min-max scale each column to ``[0, 2**bits)``, Morton-interleave,
    and range-partition + sort by the key so rows close in EVERY listed
    dimension land in the same files — parquet min/max stats on those
    columns then prune multi-predicate scans that a single-column sort
    can only serve for its lead column.

    Returns (laid_out_df, key_col_name); write the result with the
    normal sinks.  NULLs scale to bucket 0 (they co-locate — the
    stats-pruning contract treats them as smallest).  Scaling is
    min-max (two-pass: one tiny agg, broadcast back) — deterministic
    and oracle-replayable, unlike sampled range boundaries; heavily
    skewed columns trade balance for determinism, which the RANGE
    partitioner then absorbs.

    100 TB: one 1-row aggregate + broadcast, one narrow map, one range
    exchange (the sort you were going to pay for any clustered layout).
    """
    names = [c if isinstance(c, str) else str(c) for c in cols]
    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"__mn{i}") for i, c in enumerate(names)],
        *[F.max(F.col(c).cast("double")).alias(f"__mx{i}") for i, c in enumerate(names)],
    )
    top = float((1 << bits) - 1)
    out = df.crossJoin(F.broadcast(stats))
    scaled = []
    for i, c in enumerate(names):
        mn, mx = F.col(f"__mn{i}"), F.col(f"__mx{i}")
        span = F.when(mx > mn, mx - mn).otherwise(F.lit(1.0))
        s = F.floor(
            (F.col(c).cast("double") - mn) * F.lit(top) / span
        ).cast("bigint")
        scaled.append(
            F.coalesce(
                F.least(F.lit((1 << bits) - 1), F.greatest(F.lit(0), s)),
                F.lit(0),
            )
        )
    out = out.withColumn("__zkey", zorder_key(scaled, bits)).drop(
        *[f"__mn{i}" for i in range(len(names))],
        *[f"__mx{i}" for i in range(len(names))],
    )
    return (
        out.repartitionByRange("__zkey").sortWithinPartitions("__zkey"),
        "__zkey",
    )


def heavy_hitters(df: DataFrame, key_cols: list[str], top_n: int = 20):
    """The ``top_n`` heaviest keys with their row share — the first
    question to ask before any groupBy/join at scale ("which keys will
    make my shuffle partitions lopsided").  NULL key components count
    as a key (NULL is a classic skew source — flag it, don't hide it).

    Output: (*key_cols, cnt, share6) ordered by (cnt DESC, keys ASC) —
    the deterministic tie rule; share rounded to 6 decimals.

    100 TB: one map-side-combined groupBy + a top-n (TakeOrdered); the
    share denominator is one broadcast count row.
    """
    if not key_cols:
        raise ValueError("heavy_hitters needs at least one key column")
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("cnt"))
    # total from the key-count relation, NOT a second data scan (r8
    # second self-review — the skew_stats shape)
    total = counts.agg(F.sum("cnt").cast("double").alias("__t"))
    return (
        counts.crossJoin(F.broadcast(total))
        .withColumn("share6", F.round(F.col("cnt") / F.col("__t"), 6))
        .drop("__t")
        .orderBy(F.col("cnt").desc(), *[F.col(c).asc() for c in key_cols])
        .limit(int(top_n))
    )


def skew_stats(df: DataFrame, key_cols: list[str]):
    """One-row key-distribution summary: n_rows, n_keys, max_share6
    (the heaviest key's fraction — the direct "one task gets X% of the
    shuffle" number), and entropy_ratio6 (Shannon entropy of the key
    distribution over its ln(n_keys) maximum — 1.0 = perfectly even,
    →0 = one key dominates).

    Determinism: counts exact; each entropy contribution p·ln(p)
    ROUNDs to 6 decimals and sums as DECIMAL(20,6) (the vocab_kl ln
    discipline); single-key inputs get entropy_ratio NULL (the ratio
    is 0/0 — there is no distribution to be even).

    100 TB: one map-side-combined groupBy to the key-count relation,
    then one aggregation over it.  Nothing else touches the data.
    """
    if not key_cols:
        raise ValueError("skew_stats needs at least one key column")
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("__c"))
    s = counts.agg(
        F.sum("__c").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("__c").alias("__maxc"),
    )
    p = F.col("__c") / F.col("n_rows")
    plogp = (F.round(p * F.log(p), 6) + F.lit(0.0)).cast("decimal(20,6)")
    ent = (
        counts.crossJoin(F.broadcast(s))
        .agg(
            F.first("n_rows").alias("n_rows"),
            F.first("n_keys").alias("n_keys"),
            F.first("__maxc").alias("__maxc"),
            (-F.sum(plogp)).cast("double").alias("__h"),
        )
    )
    return ent.select(
        "n_rows",
        "n_keys",
        F.round(F.col("__maxc") / F.col("n_rows"), 6).alias("max_share6"),
        # ROUND-6 contributions can overshoot the exact ln(n_keys)
        # ceiling by a millionth on perfectly even splits — clamp so
        # "1.0 = even" reads cleanly
        F.when(
            F.col("n_keys") > 1,
            F.least(
                F.lit(1.0),
                F.round(
                    F.col("__h") / F.log(F.col("n_keys").cast("double")), 6
                ),
            ),
        ).alias("entropy_ratio6"),
    )
