"""Pig JOIN / CROSS variants (SURVEY.md §2.3).

All Pig joins are equi-joins; the USING clause picks a physical strategy.
Spark mapping:

- default           → df.join(...)           (Catalyst: SMJ/SHJ, AQE may
                                               flip to broadcast at runtime).
                      An inner join whose input is itself a shuffle-free
                      join output, against a side too large to
                      broadcast, counts that input's rows first and
                      broadcasts it when its counted bytes fit Spark's
                      autoBroadcastJoinThreshold: Pig knows every join
                      output's size before the next job reads it, and
                      Spark's estimate of a join output (the product of
                      its inputs') never fits
- USING 'replicated'→ broadcast(small side)  (fragment-replicate join)
- USING 'skewed'    → per-join SALTED join for inner/left (the exact
                      analog of Pig's hot-key splitting, pinned in the
                      plan); other join types rely on AQE's runtime
                      skew splitting (session conf, also always on)
- USING 'merge'     → per-join SHUFFLE_MERGE hint pinning SortMergeJoin
                      (AQE may otherwise flip to broadcast); bucketed
                      tables skip the sort entirely
- CROSS             → crossJoin; Pig's theta-join idiom CROSS+FILTER is
                      better expressed as a non-equi join condition, which
                      Spark supports natively (richer than the reference).

Semi/anti joins have no Pig operator (idiom: COGROUP + IsEmpty filter,
SURVEY.md §2.3) but map to first-class left_semi/left_anti here — same
results, one shuffle instead of two.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pigout_spark.pipeline.iterate import broadcast_threshold, counted_bytes, decide, has_join


def _cond(left: DataFrame, right: DataFrame, on) -> Column | list[str]:
    """`on` may be a column name, list of names, (left_keys, right_keys)
    pair (Pig's JOIN A BY k1, B BY k2 with different names), or a Column
    condition (theta join)."""
    if isinstance(on, Column):
        return on
    if isinstance(on, str):
        return [on]
    if (
        isinstance(on, tuple)
        and len(on) == 2
        and all(isinstance(x, (list, tuple)) for x in on)
    ):
        lks, rks = on
        cond = None
        for lk, rk in zip(lks, rks):
            c = left[lk] == right[rk]
            cond = c if cond is None else (cond & c)
        return cond
    return list(on)


def join(
    left: DataFrame,
    right: DataFrame,
    on,
    how: str = "inner",
    using: str | None = None,
    salt: int = 16,
) -> DataFrame:
    """Pig `J = JOIN A BY k [LEFT|RIGHT|FULL] [, B BY k] [USING '...'];`

    Null join keys do not match (Pig and Spark agree); null-safe equality
    is available via a Column condition with `<=>` if ever needed.

    The USING hint is honored PER JOIN (module docstring): 'replicated'
    broadcasts, 'merge' pins SortMergeJoin via the SHUFFLE_MERGE hint,
    'skewed' salts this join's hot keys (inner/left; other types fall
    back to AQE's runtime splitting, which is also always on).
    """
    if using == "replicated":
        # Fragment-replicate join: Pig loads the small side into every map
        # task's memory; Spark's broadcast hash join is the same plan.
        right = F.broadcast(right)
    elif using in ("merge", "merge-sparse"):
        # Pin SortMergeJoin for THIS join (Pig's map-side merge join on
        # sorted inputs).  Catalyst drops the sort when the inputs are
        # bucketed+sorted (plans/bucketing.py) — Pig's zero-sort path.
        left = left.hint("merge")
    elif using == "skewed":
        if how in ("inner", "left", "left_outer", "leftouter"):
            return salted_join(left, right, on, salt=salt, how=how)
        # right/full outer can't be salted (the exploded side would
        # duplicate unmatched rows) — AQE runtime splitting covers it
    elif using is not None:
        raise ValueError(f"unknown join strategy {using!r}")
    elif how == "inner":
        left, right = _broadcast_sized_input(left, right)
    return left.join(right, _cond(left, right, on), how)


def _broadcast_sized_input(left: DataFrame, right: DataFrame) -> tuple[DataFrame, DataFrame]:
    """``(left, right)`` with a broadcast hint on an input that
    :func:`_sizable` admits and whose counted bytes are at most
    ``spark.sql.autoBroadcastJoinThreshold``.  Spark's estimate of a
    join output is the product of its inputs' sizes, so without this
    the next join shuffles the large side to meet it, and adaptive
    execution turns that into a broadcast only after both sides' shuffle
    stages have run.

    100 TB: only a side that is one map stage (scans, filters,
    projections, broadcast joins) is counted.  The count reads only the
    columns its filters and join keys need, stops one row past the
    threshold (:func:`counted_bytes`), and writes and keeps nothing.  A
    side that fits is broadcast from its own plan, which column pruning
    narrows to the columns the query uses, so it is computed twice:
    once counted, once built into the broadcast.  A side that does not
    fit gets today's plan, and the count of the few partitions that
    showed it too large is the whole cost of having looked.  Nothing is
    stored, so a lost executor recomputes the join as before, and a
    memoized query holds a plan over its sources, with the broadcast
    decision taken on the data it first counted.  A threshold at or
    below 0 sizes nothing and starts no job."""
    threshold = broadcast_threshold(left.sparkSession)
    if threshold is None:
        return left, right
    sides = [left, right]
    for i in (0, 1):
        if _sizable(sides[i], sides[1 - i], threshold) and decide(
            "join input", counted_bytes(sides[i], threshold, "join: size input"), threshold
        ):
            sides[i] = F.broadcast(sides[i])
            break
    return sides[0], sides[1]


def _sizable(df: DataFrame, other: DataFrame, threshold: int) -> bool:
    """``df`` is a join output that runs as one map stage, not
    streaming, and ``other`` is estimated larger than ``threshold``."""
    if df.isStreaming:
        return False
    if other._jdf.queryExecution().optimizedPlan().stats().sizeInBytes() <= threshold:
        return False
    if not has_join(df):
        return False
    nodes = [df._jdf.queryExecution().executedPlan()]
    while nodes:
        node = nodes.pop()
        name = node.getClass().getSimpleName()
        if name in ("ShuffleExchangeExec", "ShuffleQueryStageExec"):
            return False
        if name == "AdaptiveSparkPlanExec":
            nodes.append(node.executedPlan())
        elif name == "BroadcastQueryStageExec":
            nodes.append(node.plan())
        else:
            kids = node.children()
            nodes.extend(kids.apply(k) for k in range(kids.size()))
    return True


def cross(left: DataFrame, right: DataFrame, condition: Column | None = None) -> DataFrame:
    """Pig CROSS (n-ary via chaining).  With `condition`, the CROSS+FILTER
    theta-join idiom — expressed as a join condition so Catalyst can plan
    BroadcastNestedLoopJoin instead of materializing the product."""
    if condition is not None:
        return left.join(right, condition)
    return left.crossJoin(right)


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    on,
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Manual skew-salting for the case AQE can't fix: one pathological
    key whose partition exceeds an executor, joined to a side too large
    to broadcast.  The skewed side gets a random salt in [0, salt); the
    other side is exploded ×salt so every (key, salt) bucket pairs up —
    the hot key spreads over ``salt`` reducers at the cost of
    replicating the other side ``salt``×.

    Results equal the plain join (same multiset of matches).  Prefer AQE
    skew handling (on by default, session.py); reach for this only when
    runtime splitting is insufficient.

    Only inner and left joins are supported: the other side is exploded
    ×salt, so a right/full outer join would emit each unmatched ``other``
    row once per salt value (duplicates).

    ``on`` takes the same forms as join(): same-named column name(s)
    (key columns emitted once, as in df.join(on=names)), a (left_keys,
    right_keys) pair, or an arbitrary equi-join Column condition (both
    sides' columns kept)."""
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(
            f"salted_join supports inner/left joins, not {how!r}: the "
            "exploded side duplicates unmatched rows under right/full outer"
        )
    sk = skewed.withColumn("__salt", (F.rand() * salt).cast("int"))
    ot = other.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    if isinstance(on, (str, list)):
        keys = [on] if isinstance(on, str) else list(on)
        return sk.join(ot, keys + ["__salt"], how).drop("__salt")
    cond = _cond(sk, ot, on) & (sk["__salt"] == ot["__salt"])
    return sk.join(ot, cond, how).drop(sk["__salt"]).drop(ot["__salt"])


def semi_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """Pig idiom COGROUP+`not IsEmpty(B)` → left_semi (one shuffle)."""
    return left.join(right, _cond(left, right, on), "left_semi")


def anti_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """Pig idiom COGROUP+`IsEmpty(B)` → left_anti."""
    return left.join(right, _cond(left, right, on), "left_anti")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    by: str,
    ts_col: str = "ts",
    right_cols: list[str] | None = None,
    tolerance_seconds: int | None = None,
    right_ts_out: str = "matched_ts",
    direction: str = "backward",
    right_tiebreak: str | None = None,
) -> DataFrame:
    """AS-OF JOIN: attach to every left row the nearest right row per
    ``by`` key in the given ``direction`` (full pandas merge_asof
    surface): ``backward`` (default) the most recent right row with
    ``right.ts <= left.ts``; ``forward`` the earliest right row with
    ``right.ts >= left.ts``; ``nearest`` whichever of the two is
    closer in absolute time (ties → the backward match).  DuckDB
    ships backward/forward natively as ASOF JOIN — the oracle twin.
    The canonical "state at event time" operator: price at trade
    time, last config before a request, most recent feature-table
    snapshot per example.

    Spark-first design — the UNION-MARKER pattern, not a range join:
    union left and right on the key, sort each key's rows by
    (ts, marker) with right rows first at equal timestamps, and
    forward-fill the right payload onto left rows with one
    last(ignorenulls) window.  ONE shuffle on the key, per-key bounded
    windows, and — unlike the naive ``l.ts >= r.ts`` range join — no
    O(|L|·|R|) pair blowup for Catalyst to salvage.

    ``tolerance_seconds`` nulls out matches farther than the bound in
    the search direction (merge_asof's ``tolerance``; for ``nearest``
    each candidate is bounded before the choice).  Output: every left
    row + the filled ``right_cols`` (NULL when no match) +
    ``right_ts_out`` carrying the matched right timestamp.

    Column contract: ``right_cols`` must not collide with left column
    names (rename upstream, as merge_asof's suffixes would); left rows
    with NULL timestamps never match (they sort before every right
    row in the fill window).

    Duplicate right timestamps: if several right rows share a
    (key, ts), which payload wins is NOT defined by (ts, side) alone.
    Pass ``right_tiebreak`` (a right column — a version number, a
    unique id) to pin it: the row with the LARGEST tiebreak value at
    that timestamp wins, in every direction ("highest version is the
    effective row" semantics).  Without it the choice is
    partition-order-dependent and may differ run to run (ADVICE r7) —
    fine only when (key, ts) is unique on the right.

    ``nearest`` tie subtlety: the union layout orders right rows
    BEFORE left rows at equal timestamps, so the forward fill cannot
    see an equal-timestamp right row — harmless, because the backward
    fill sees it at delta 0, which always wins the nearest choice
    (and is the documented tie rule).
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown asof direction: {direction!r}")
    rcols = right_cols or [
        c for c in right.columns if c not in (by, ts_col)
    ]
    payload = F.struct(
        F.col(ts_col).alias("__rts"),
        *[F.col(c).alias(c) for c in rcols],
    )
    # Tie layout: right rows sort before left at equal ts for
    # backward/nearest (equal ts is a valid backward match), after
    # left for forward (equal ts is a valid forward match).
    r_side, l_side = (1, 0) if direction == "forward" else (0, 1)
    tb_r = (
        F.col(right_tiebreak) if right_tiebreak is not None else F.lit(0)
    )
    r = right.filter(F.col(ts_col).isNotNull()).select(
        F.col(by).alias("__k"),
        F.col(ts_col).alias("__ts"),
        F.lit(r_side).alias("__side"),
        tb_r.alias("__tb"),
        payload.alias("__pay"),
        *[F.lit(None).cast(t.dataType).alias(f"__l_{c}")
          for c, t in zip(left.columns, left.schema.fields)],
    )
    l = left.select(
        F.col(by).alias("__k"),
        F.col(ts_col).alias("__ts"),
        F.lit(l_side).alias("__side"),
        F.lit(None).cast(r.schema["__tb"].dataType).alias("__tb"),
        F.lit(None).cast(r.schema["__pay"].dataType).alias("__pay"),
        *[F.col(c).alias(f"__l_{c}") for c in left.columns],
    )
    # Tiebreak direction per window: backward's last() must LAND on
    # the max-tiebreak row (asc), forward's first() must MEET it
    # (desc) — so the same "largest tiebreak wins" contract holds in
    # every direction.  Left rows carry NULL __tb; their relative
    # order within an equal-(ts, side) group is irrelevant (no right
    # row can sit between them).
    base_b = Window.partitionBy("__k").orderBy(
        "__ts", "__side", F.col("__tb").asc_nulls_first()
    )
    base_f = Window.partitionBy("__k").orderBy(
        "__ts", "__side", F.col("__tb").desc_nulls_last()
    )
    wb = base_b.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wf = base_f.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    u = l.unionByName(r)
    if direction == "backward":
        u = u.withColumn("__mb", F.last("__pay", ignorenulls=True).over(wb))
    elif direction == "forward":
        u = u.withColumn("__mf", F.first("__pay", ignorenulls=True).over(wf))
    else:
        u = u.withColumn(
            "__mb", F.last("__pay", ignorenulls=True).over(wb)
        ).withColumn("__mf", F.first("__pay", ignorenulls=True).over(wf))
    filled = u.filter(F.col("__side") == l_side)

    def bounded(match: Column, delta: Column) -> Column:
        if tolerance_seconds is None:
            return match
        return F.when(delta <= F.lit(int(tolerance_seconds)), match)

    lts = F.unix_timestamp("__ts")
    if direction == "backward":
        match = bounded(
            F.col("__mb"), lts - F.unix_timestamp(F.col("__mb")["__rts"])
        )
    elif direction == "forward":
        match = bounded(
            F.col("__mf"), F.unix_timestamp(F.col("__mf")["__rts"]) - lts
        )
    else:
        db = lts - F.unix_timestamp(F.col("__mb")["__rts"])
        dforw = F.unix_timestamp(F.col("__mf")["__rts"]) - lts
        mb, mf = bounded(F.col("__mb"), db), bounded(F.col("__mf"), dforw)
        match = (
            F.when(mb.isNull(), mf)
            .when(mf.isNull(), mb)
            .when(dforw < db, mf)  # tie (==) falls through to backward
            .otherwise(mb)
        )
    # NULL-ts left rows never match in ANY direction (they sort first,
    # which the forward window would otherwise reward).
    match = F.when(F.col("__ts").isNotNull(), match)
    return filled.select(
        *[F.col(f"__l_{c}").alias(c) for c in left.columns],
        match["__rts"].alias(right_ts_out),
        *[match[c].alias(c) for c in rcols],
    )


def _assert_interval(df: DataFrame, start_col: str, end_col: str) -> DataFrame:
    """Distributed precondition for the interval-join family: every
    interval must satisfy ``end >= start`` (nulls pass through — they
    can never match the BETWEEN residual anyway).  An inverted interval
    would make ``F.sequence(start_bin, end_bin)`` silently emit a
    DESCENDING bin list, breaking the canonical-bin exactly-once rule —
    pairs would be missed with no error (ADVICE r5).  assert_true
    returns NULL on success, so the filter keeps every valid row and
    the job fails loudly on the first violation (the ASSERT operator's
    trick, operators/relational.py)."""
    ok = (
        F.col(start_col).isNull()
        | F.col(end_col).isNull()
        | (F.col(end_col) >= F.col(start_col))
    )
    return df.filter(
        F.assert_true(
            ok, F.lit(f"inverted interval: {end_col} < {start_col}")
        ).isNull()
    )


def range_join(
    left: DataFrame,
    right: DataFrame,
    ts_col: str,
    start_col: str,
    end_col: str,
    bin_seconds: int,
    by: str | None = None,
) -> DataFrame:
    """RANGE (point-in-interval) JOIN: inner-join every left row to the
    right intervals containing its timestamp (``start <= ts <= end``),
    optionally per ``by`` key — sessions containing an event, error
    windows around a click, validity-period lookups.

    Spark plans a bare BETWEEN join as a nested loop (broadcast at
    best, cartesian at worst).  This implementation BUCKETIZES time:
    each interval explodes to the fixed ``bin_seconds`` bins it covers,
    the left side maps to its single bin, and the join is a pure
    equi-join on (key, bin) with the exact BETWEEN as a residual
    filter.  A (left row, interval) pair shares exactly one bin — the
    left row's — so no post-join dedup is needed.

    100 TB: one equi-join shuffle; right-side amplification is
    ⌈span/bin⌉+1 per interval — pick ``bin_seconds`` near the typical
    interval span so amplification stays O(1).  Degenerate long
    intervals inflate only their own bin lists; AQE skew-split covers
    hot bins.

    Column contract: apart from ``by`` (which may repeat and is
    emitted once, from the left), left and right column names must be
    disjoint — rename upstream.
    """
    step = int(bin_seconds)
    lbin = F.floor(F.unix_timestamp(ts_col) / step).alias("__bin")
    rbins = F.explode(
        F.sequence(
            F.floor(F.unix_timestamp(start_col) / step),
            F.floor(F.unix_timestamp(end_col) / step),
        )
    ).alias("__bin")
    l = left.select("*", lbin)
    r = _assert_interval(right, start_col, end_col).select("*", rbins)
    cond = l["__bin"] == r["__bin"]
    if by:
        # key may share its name across sides — bind via the frames
        cond = cond & (l[by] == r[by])
    joined = l.join(r, cond).filter(
        (l[ts_col] >= r[start_col]) & (l[ts_col] <= r[end_col])
    )
    rcols = [
        c for c in right.columns if c != by
    ]
    return joined.select(
        *[l[c] for c in left.columns],
        *[r[c] for c in rcols],
    )


def overlap_join(
    left: DataFrame,
    right: DataFrame,
    l_start: str,
    l_end: str,
    r_start: str,
    r_end: str,
    bin_seconds: int,
    by: str | None = None,
) -> DataFrame:
    """INTERVAL OVERLAP JOIN: inner-join every left interval to the
    right intervals it overlaps (closed-interval test
    ``l_start <= r_end AND r_start <= l_end``), optionally per ``by``
    key — the interval×interval generalization of :func:`range_join`
    (genomic region intersection, concurrent-session overlap,
    maintenance-window × incident matching).

    Same bucketization trick, with an exactly-once rule that now has to
    handle BOTH sides spanning many bins: each side explodes to the
    bins it covers, the join is an equi-join on (key, bin), and a pair
    is emitted only in its CANONICAL bin — the bin of
    ``greatest(l_start, r_start)``, which any overlapping pair covers
    on both sides (max(start) <= min(end)) and exactly one bin equals.
    No post-join dedup.

    100 TB: one equi-join shuffle; per-row amplification is
    ⌈span/bin⌉+1 on each side — pick ``bin_seconds`` near the typical
    span.  Degenerate long intervals inflate only their own bin lists;
    AQE skew-split covers hot bins.

    Column contract: apart from ``by`` (emitted once, from the left),
    left and right column names must be disjoint — rename upstream.
    """
    step = int(bin_seconds)
    lbins = F.explode(
        F.sequence(
            F.floor(F.unix_timestamp(l_start) / step),
            F.floor(F.unix_timestamp(l_end) / step),
        )
    ).alias("__bin")
    rbins = F.explode(
        F.sequence(
            F.floor(F.unix_timestamp(r_start) / step),
            F.floor(F.unix_timestamp(r_end) / step),
        )
    ).alias("__bin")
    l = _assert_interval(left, l_start, l_end).select("*", lbins)
    r = _assert_interval(right, r_start, r_end).select("*", rbins)
    cond = l["__bin"] == r["__bin"]
    if by:
        cond = cond & (l[by] == r[by])
    canonical = F.floor(
        F.greatest(F.unix_timestamp(l[l_start]), F.unix_timestamp(r[r_start]))
        / step
    )
    joined = l.join(r, cond).filter(
        (l[l_start] <= r[r_end])
        & (r[r_start] <= l[l_end])
        & (l["__bin"] == canonical)
    )
    rcols = [c for c in right.columns if c != by]
    return joined.select(
        *[l[c] for c in left.columns],
        *[r[c] for c in rcols],
    )


def edit_distance_join(
    left: DataFrame,
    right: DataFrame,
    k: int,
    left_id: str = "id",
    left_str: str = "s",
    right_id: str = "id",
    right_str: str = "s",
    q: int = 2,
    max_low_distinct: int = 2_000_000,
) -> DataFrame:
    """Fuzzy string join: all (left, right) pairs whose strings are
    within Levenshtein distance ``k`` — EDJoin-style q-gram prefix
    filtering (Xiao, Wang & Lin, VLDB 2008), never string×string.

    Filter chain, each step provably lossless:

    1. One edit operation destroys at most ``q`` distinct q-grams, so
       ed(s,t) ≤ k ⟹ |G(s)∩G(t)| ≥ |G(s)| − k·q.  By the prefix-filter
       theorem under a GLOBAL q-gram order (rarest first — document
       frequency over both sides, gram as tiebreak), matching pairs
       must share a gram within each side's first min(|G|, k·q+1)
       grams.  Candidates come from an equi-join on those prefix grams
       only — rare-first ordering makes hot-gram buckets structurally
       impossible for selective grams and bounds each string's join
       fan-out by k·q+1 rows.
    2. LOW-GRAM strings (fewer than k·q+1 q-grams, i.e. len < q·(k+1))
       fall outside the theorem — k edits can destroy their every gram,
       so a matching pair may share none.  But if EITHER side has
       ≥ k·q+1 grams the overlap bound still forces a shared prefix
       gram, so only LOW×LOW pairs can escape the equi-join: those are
       swept by a broadcast cross of the two low-gram sides (strings
       bounded by |alphabet|^(q·(k+1)−1) — a constant-sized value
       domain) under the length filter.
    3. Survivors verify with the exact JVM ``levenshtein`` under the
       |len(s)−len(t)| ≤ k length filter.

    Output: (left_id, right_id, dist), distinct pairs.

    100 TB: two narrow gram-explode passes (k·q+1 rows kept per
    string), one vocabulary-sized df aggregation, one gram-keyed
    equi-join, one pair distinct, one verify join per side — all
    key-equi, no cartesian (the short-string path broadcasts a
    constant-sized side).
    """
    if k < 0 or q < 1:
        raise ValueError(f"need k >= 0 and q >= 1, got k={k}, q={q}")
    pref_n = k * q + 1

    def prep(df: DataFrame, id_col: str, s_col: str, tag: str):
        base = df.select(
            F.col(id_col).alias(f"__{tag}id"),
            F.col(s_col).cast("string").alias(f"__{tag}s"),
        ).filter(F.col(f"__{tag}s").isNotNull())
        grams = base.select(
            f"__{tag}id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        f"transform(sequence(1, greatest(length(__{tag}s) - {q} + 1, 0)),"
                        f" i -> substring(__{tag}s, i, {q}))"
                    )
                )
            ).alias("__g"),
        )
        return base, grams

    lbase, lgrams = prep(left, left_id, left_str, "l")
    rbase, rgrams = prep(right, right_id, right_str, "r")

    # Global rare-first gram order: document frequency over BOTH sides.
    df_counts = (
        lgrams.select("__g")
        .unionByName(rgrams.select("__g"))
        .groupBy("__g")
        .agg(F.count(F.lit(1)).alias("__df"))
    )

    def prefix(grams: DataFrame, tag: str):
        w = Window.partitionBy(f"__{tag}id").orderBy("__df", "__g")
        return (
            grams.join(df_counts, "__g")
            .withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= pref_n)
            .select(f"__{tag}id", "__g")
        )

    cands = (
        prefix(lgrams, "l")
        .join(prefix(rgrams, "r"), "__g")
        .select("__lid", "__rid")
        .distinct()
    )

    # Low-gram strings (len < q·(k+1)): only LOW×LOW pairs can evade
    # the gram join (docstring step 2) — sweep exactly those, crossing
    # DISTINCT VALUES (bounded by the |alphabet|^(q(k+1)−1) domain),
    # never rows: a corpus can hold millions of short-string ROWS, and
    # broadcasting/crossing those would be the cartesian the docstring
    # forbids.  Ids rejoin by string value afterwards.
    low_len = q * (k + 1)
    lshort = lbase.filter(F.length("__ls") < low_len).select("__lid", "__ls")
    rshort = rbase.filter(F.length("__rs") < low_len).select("__rid", "__rs")

    def bounded_values(vals: DataFrame, col: str) -> DataFrame:
        """Loud guard on the LOW×LOW sweep's contract: the distinct
        short-string domain is |alphabet|^(q(k+1)−1)-bounded in theory,
        but an adversarial all-short corpus (huge alphabet, tiny q·k)
        degrades the sweep toward broadcast×self.  Enforce the bound
        lazily on the relation itself — a keyless count-window (these
        relations are exactly the ones about to be broadcast/crossed,
        so single-partitioning them adds nothing) + assert_true, so an
        oversized stratum fails the JOB with this message instead of an
        opaque broadcast OOM."""
        wall = Window.partitionBy().rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        return (
            vals.withColumn("__nv", F.count(F.lit(1)).over(wall))
            .filter(
                F.assert_true(
                    F.col("__nv") <= int(max_low_distinct),
                    F.lit(
                        "edit_distance_join: distinct low-gram strings "
                        f"(len < {low_len}) exceed max_low_distinct="
                        f"{max_low_distinct}; the LOW×LOW sweep would "
                        "degrade to a near-cartesian — raise q, lower "
                        "k, or raise max_low_distinct consciously"
                    ),
                ).isNull()
            )
            .select(col)
        )

    lsv = bounded_values(lshort.select("__ls").distinct(), "__ls")
    rsv = bounded_values(rshort.select("__rs").distinct(), "__rs")
    vpairs = (
        F.broadcast(lsv)
        .crossJoin(rsv)
        .filter(F.abs(F.length("__ls") - F.length("__rs")) <= k)
    )
    swept = (
        lshort.join(vpairs, "__ls")
        .join(rshort, "__rs")
        .select("__lid", "__rid")
    )
    cands = cands.unionByName(swept).distinct()

    verified = (
        cands.join(lbase, "__lid")
        .join(rbase, "__rid")
        .filter(
            (F.abs(F.length("__ls") - F.length("__rs")) <= k)
            & (F.levenshtein("__ls", "__rs") <= k)
        )
    )
    return verified.select(
        F.col("__lid").alias(left_id if left_id != right_id else f"l_{left_id}"),
        F.col("__rid").alias(right_id if left_id != right_id else f"r_{right_id}"),
        F.levenshtein("__ls", "__rs").cast("long").alias("dist"),
    )


def merge_intervals(
    df: DataFrame,
    start_col: str = "iv_start",
    end_col: str = "iv_end",
    by: str | None = None,
    min_gap_seconds: int = 0,
) -> DataFrame:
    """Interval UNION (gaps-and-islands): collapse overlapping — and,
    with ``min_gap_seconds``, nearly-adjacent — intervals per key into
    their covering envelopes.  The maintenance-window / outage-report
    primitive: 40 overlapping alerts become 3 incident windows.

    An interval starts a new island iff its start exceeds the running
    maximum end of everything before it (by more than the gap);
    islands are then one groupBy away.  Touching endpoints merge
    (``[a, b] ∪ [b, c]`` is one island); inverted intervals raise
    (the :func:`range_join` assertion discipline).

    Output: (key?, iv_start, iv_end, n_merged).

    100 TB: ONE key exchange drives the sort, the running-max window,
    the island cumsum, and the final (key, island) aggregation — the
    sessionize plan shape applied to intervals.  With no ``by``, the
    sort is a single-partition stage by necessity (a global interval
    union is inherently sequential) — pass a key at scale.
    """
    df = _assert_interval(df, start_col, end_col)
    # NULL endpoints carry no interval semantics and would corrupt the
    # running max (a NULL start sorts first and silently merges):
    # dropped outright, mirroring the SQL twin's behavior.
    df = df.filter(
        F.col(start_col).isNotNull() & F.col(end_col).isNotNull()
    )
    part = [by] if by else []
    w = Window.partitionBy(*part).orderBy(start_col, end_col)
    prev_max_end = F.max(F.col(end_col)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_island = F.when(
        prev_max_end.isNull()
        | (
            F.unix_timestamp(F.col(start_col))
            > F.unix_timestamp(prev_max_end) + int(min_gap_seconds)
        ),
        1,
    ).otherwise(0)
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    islands = df.withColumn("__isl", F.sum(new_island).over(cum))
    return islands.groupBy(*part, "__isl").agg(
        F.min(start_col).alias(start_col),
        F.max(end_col).alias(end_col),
        F.count(F.lit(1)).cast("long").alias("n_merged"),
    ).drop("__isl")
